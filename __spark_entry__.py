"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator family from SURVEY.md §2,
and ``oracle_sql()`` carries its DuckDB twin over the same parquet tables.
Float outputs are rounded to 5 decimals ON BOTH SIDES so the value-hash
comparison is robust to engine-level last-ulp differences.

Drift queries derive a deterministic (ref, curr) pair from one table
(FIXTURES.md §B): ref = ``l_orderkey % 2 = 0``, curr = the complement.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROUND = 5

LINEITEM_NUMERIC = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]
LINEITEM_CATEGORICAL = ["l_returnflag", "l_linestatus"]

PROFILE_STATS = ["n_rows", "n", "null_count", "min", "max", "mean", "stddev", "p25", "p50", "p75"]


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")


def _split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    return df.filter(F.col("l_orderkey") % 2 == 0), df.filter(F.col("l_orderkey") % 2 == 1)


def _round_cols(df: DataFrame, cols: list[str], nd: int = ROUND) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c).cast("double"), nd))
    return out


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------

def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4 + P2: full numeric profile of lineitem, one wide aggregate."""
    from pyspark_data_drift_detector_spark.operators.profile import numeric_profile

    prof = numeric_profile(
        _lineitem(spark, sf_dir), columns=LINEITEM_NUMERIC, quantiles=(0.25, 0.5, 0.75),
        with_shape=False,
    )
    keep = ["column_name"] + PROFILE_STATS
    return _round_cols(prof.select(*keep), ["min", "max", "mean", "stddev", "p25", "p50", "p75"])


def q_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16+M19: numeric drift over the even/odd lineitem split — one scan+agg."""
    from pyspark_data_drift_detector_spark.operators.numeric_drift import numeric_drift_pair

    ref, curr = _split(_lineitem(spark, sf_dir))
    drift = numeric_drift_pair(
        ref, curr, columns=LINEITEM_NUMERIC, quantiles=(0.25, 0.5, 0.75)
    )
    rounded = [
        "mean_relative_diff",
        "median_relative_diff",
        "std_dev_relative_diff",
        "iqr_relative_diff",
        "range_relative_diff",
        "null_diff",
        "drift_score",
    ]
    return _round_cols(drift.select("column_name", *rounded, "drift_detected"), rounded)


def q_categorical_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full categorical distance panel (JS/PSI/TVD/Hellinger) from ONE
    frequency-cells pass, over the part split."""
    from pyspark_data_drift_detector_spark.operators.frequency import categorical_distances

    part = spark.read.parquet(f"{sf_dir.rstrip('/')}/part.parquet")
    ref = part.filter(F.col("p_partkey") % 2 == 0)
    curr = part.filter(F.col("p_partkey") % 2 == 1)
    out = categorical_distances(ref, curr, ["p_brand", "p_type"])
    return _round_cols(
        out.select("column_name", "js", "psi", "tvd", "hellinger"),
        ["js", "psi", "tvd", "hellinger"],
    )


def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per categorical column (industry-standard
    drift metric; epsilon-clamped zero bins) over the part split."""
    from pyspark_data_drift_detector_spark.operators.frequency import (
        population_stability_index,
    )

    part = spark.read.parquet(f"{sf_dir.rstrip('/')}/part.parquet")
    ref = part.filter(F.col("p_partkey") % 2 == 0)
    curr = part.filter(F.col("p_partkey") % 2 == 1)
    out = population_stability_index(ref, curr, ["p_brand", "p_type"])
    return _round_cols(out.select("column_name", "psi", "stability"), ["psi"])


def q_ks_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS + Wasserstein-1 from the per-value EDF —
    distributed, no sampling; asymptotic KS p-value with a fixed-term
    series both engines replay identically."""
    from pyspark_data_drift_detector_spark.operators.distribution import edf_distances

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = edf_distances(ref, curr, ["l_quantity", "l_extendedprice", "l_discount"])
    return _round_cols(
        out.select(
            "column_name", "ks", "ks_pvalue", "wasserstein", "cvm", "n_ref", "n_curr"
        ),
        ["ks", "ks_pvalue", "wasserstein", "cvm"],
    )


def q_psi_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric PSI over reference-decile bins — the standard
    model-monitoring recipe, value-checked bin-for-bin."""
    from pyspark_data_drift_detector_spark.operators.distribution import psi_numeric

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = psi_numeric(ref, curr, ["l_quantity", "l_extendedprice", "l_discount"])
    return _round_cols(out.select("column_name", "psi", "stability"), ["psi"])


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH blocking — the 100 TB path
    (candidates from band collisions, exact-cosine verify). The seeded
    hyperplanes replay in SQL, so candidate generation AND verification are
    value-checked; recall vs the exact variant is a banding property, not a
    correctness one (both engines compute the identical banding)."""
    from pyspark_data_drift_detector_spark.operators.dedup import embedding_neardup_lsh

    out = embedding_neardup_lsh(
        _embeddings(spark, sf_dir), threshold=0.4, dim=64, n_planes=28, bands=4
    )
    return _round_cols(out.select("id1", "id2", "cosine"), ["cosine"])


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window profile (1-day windows every 12 hours) — each event
    contributes to 2 overlapping windows; the oracle replays the epoch-
    aligned window replication."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import windowed_profile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = windowed_profile(
        load_events(spark, sf_dir), window_duration="1 day", slide_duration="12 hours"
    )
    return _round_cols(
        out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("null_count").cast("long").alias("null_count"),
            "mean",
            "stddev",
            "min",
            "max",
        ),
        ["mean", "stddev", "min", "max"],
    )


def q_running_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-key running profile in event-time order — the batch
    twin of the ``applyInPandasWithState`` stateful operator (the state it
    would hold after each day's micro-batch), in closed form with one
    groupBy + cumulative window sums."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import running_profile_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = running_profile_batch(load_events(spark, sf_dir), bucket="day")
    return _round_cols(
        out.select(
            F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("null_count").cast("long").alias("null_count"),
            "mean",
            "stddev",
            "min",
            "max",
        ),
        ["mean", "stddev", "min", "max"],
    )


def q_categorical_drift_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 exact-p path: the true chi² survival function
    (``p_value_mode='exact'``, the engine's incomplete-gamma implementation)
    value-verified on orders columns whose supports give EVEN dof (2 and 4),
    where sf(χ², 2k) = exp(−χ²/2)·Σ_{i<k}(χ²/2)^i/i! is closed-form in SQL."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    ref = orders.filter(F.col("o_orderkey") % 2 == 0)
    curr = orders.filter(F.col("o_orderkey") % 2 == 1)
    drift = categorical_drift(
        ref, curr, ["o_orderstatus", "o_orderpriority"], p_value_mode="exact"
    )
    return _round_cols(
        drift.select(
            "column_name",
            "chi_square",
            F.col("degrees_of_freedom").cast("int").alias("degrees_of_freedom"),
            "p_value",
        ),
        ["chi_square", "p_value"],
    )


def q_complex_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/P7: null/empty/avg-size drift for struct/array/map columns
    (``schema_analyzer.py:157-345``). The testdata has no native complex
    columns, so deterministic ones are derived from documents — an array
    (tokens, with seeded nulls and empties), a struct and a map (with seeded
    nulls) — and the oracle replays the construction rules in SQL."""
    from pyspark_data_drift_detector_spark.operators.schema_drift import complex_column_profile

    docs = _documents(spark, sf_dir)
    mod = F.col("n_chars") % 7, F.col("n_chars") % 5, F.col("n_chars") % 3, F.col("n_chars") % 4
    derived = docs.select(
        "doc_id",
        F.when(mod[0] == 0, F.array().cast("array<string>"))
        .when(mod[1] == 0, F.lit(None).cast("array<string>"))
        .otherwise(F.split(F.trim(F.col("text")), r"\s+"))
        .alias("tok_arr"),
        F.when(mod[2] != 0, F.struct(F.col("lang"), F.col("source"))).alias("meta_struct"),
        F.when(
            mod[3] != 0,
            F.create_map(
                F.lit("lang"), F.col("lang"), F.lit("src"), F.col("source")
            ),
        ).alias("attr_map"),
    )
    ref = derived.filter(F.col("doc_id") % 2 == 0)
    curr = derived.filter(F.col("doc_id") % 2 == 1)
    out = complex_column_profile(ref, curr, ["tok_arr", "meta_struct", "attr_map"])
    rounded = [
        "ref_null_ratio", "ref_empty_ratio", "ref_avg_size",
        "curr_null_ratio", "curr_empty_ratio", "curr_avg_size",
        "null_ratio_change", "empty_ratio_change", "avg_size_rel_change",
    ]
    return _round_cols(
        out.select("column_name", "complex_kind", *rounded, "drift_detected"), rounded
    )


def q_js_full_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: JS distance over the FULL category support
    (``distribution_analyzer.py:481-513``), distinct from the top-20 variant —
    exercised on part columns whose cardinality (p_type ≈ 150) exceeds 20 so
    the two supports genuinely differ."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift

    part = spark.read.parquet(f"{sf_dir.rstrip('/')}/part.parquet")
    ref = part.filter(F.col("p_partkey") % 2 == 0)
    curr = part.filter(F.col("p_partkey") % 2 == 1)
    drift = categorical_drift(ref, curr, ["p_type", "p_brand"], top_k=None)
    return _round_cols(drift.select("column_name", "js_distance"), ["js_distance"])


def q_numeric_drift_rowpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17: row-path drift score — mean of σ-normalized components
    (null-frac diff, mean/median shifts, log₂ σ/range/IQR ratios, p95/p99
    tail shifts; reference ``numerical_analyzer.py:278-558``)."""
    from pyspark_data_drift_detector_spark.operators.numeric_drift import numeric_drift_pair

    ref, curr = _split(_lineitem(spark, sf_dir))
    drift = numeric_drift_pair(
        ref,
        curr,
        columns=LINEITEM_NUMERIC,
        quantiles=(0.25, 0.5, 0.75, 0.95, 0.99),
        score_mode="row_path",
    )
    return _round_cols(
        drift.select("column_name", "drift_score", "drift_severity"), ["drift_score"]
    )


def q_freq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+W1: per-column category counts and normalized frequencies."""
    from pyspark_data_drift_detector_spark.operators.frequency import frequency_table

    freq = frequency_table(_lineitem(spark, sf_dir), LINEITEM_CATEGORICAL)
    return _round_cols(
        freq.select("column_name", "value", F.col("cnt").cast("long").alias("cnt"), "freq"),
        ["freq"],
    )


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6-M8+M18: JS distance, chi², category changes over the lineitem split."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift

    ref, curr = _split(_lineitem(spark, sf_dir))
    drift = categorical_drift(ref, curr, LINEITEM_CATEGORICAL, p_value_mode="ladder")
    rounded = ["js_distance", "chi_square", "p_value", "null_diff", "drift_score"]
    return _round_cols(
        drift.select(
            "column_name",
            *rounded,
            F.col("degrees_of_freedom").cast("int").alias("degrees_of_freedom"),
            F.col("new_categories").cast("long").alias("new_categories"),
            F.col("missing_categories").cast("long").alias("missing_categories"),
            "drift_detected",
        ),
        rounded,
    )


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: Shannon entropy (log2) per categorical column."""
    from pyspark_data_drift_detector_spark.operators.frequency import entropy, frequency_table

    ent = entropy(frequency_table(_lineitem(spark, sf_dir), LINEITEM_CATEGORICAL))
    return _round_cols(ent.select("column_name", "entropy"), ["entropy"])


def q_group_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M26 (profile half): per-dimension numeric stats, single groupBy pass."""
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    out = df.groupBy(F.col("o_orderpriority").alias("dimension_value")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("o_totalprice"), ROUND).alias("mean_totalprice"),
        F.round(F.stddev("o_totalprice"), ROUND).alias("std_totalprice"),
        F.round(F.min("o_totalprice"), ROUND).alias("min_totalprice"),
        F.round(F.max("o_totalprice"), ROUND).alias("max_totalprice"),
    )
    return out


def q_top_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2: top-3 categories per column with deterministic tie-break."""
    from pyspark_data_drift_detector_spark.operators.frequency import frequency_table

    freq = frequency_table(
        spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet"),
        ["o_orderstatus", "o_orderpriority"],
        top_k=3,
    )
    return _round_cols(
        freq.select("column_name", "value", F.col("cnt").cast("long").alias("cnt"), "freq"),
        ["freq"],
    )


def q_quantile_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: per-quantile abs/rel shifts over the lineitem split."""
    from pyspark_data_drift_detector_spark.operators.distribution import quantile_shift

    ref, curr = _split(_lineitem(spark, sf_dir))
    shifts = quantile_shift(
        ref,
        curr,
        ["l_extendedprice", "l_quantity", "l_discount"],
        quantiles=(0.25, 0.5, 0.75, 0.95),
        quantile_mode="exact",
    )
    return _round_cols(
        shifts.select("column_name", "quantile", "ref_value", "curr_value", "abs_diff", "rel_diff"),
        ["ref_value", "curr_value", "abs_diff", "rel_diff"],
    )


def q_dist_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: skewness/kurtosis drift + classification over the lineitem split."""
    from pyspark_data_drift_detector_spark.operators.distribution import shape_change

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = shape_change(ref, curr, ["l_quantity", "l_extendedprice", "l_tax"])
    rounded = ["ref_skewness", "curr_skewness", "skew_diff", "ref_kurtosis", "curr_kurtosis", "kurt_diff"]
    return _round_cols(out.select("column_name", *rounded, "skew_change", "kurt_change"), rounded)


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: 10-bucket equi-width histogram, DataFrame-native (no RDD)."""
    from pyspark_data_drift_detector_spark.operators.distribution import histogram

    h = histogram(_lineitem(spark, sf_dir), ["l_extendedprice", "l_quantity"], bins=10)
    return _round_cols(
        h.select(
            "column_name",
            F.col("bucket").cast("int").alias("bucket"),
            "lower",
            "upper",
            F.col("cnt").cast("long").alias("cnt"),
        ),
        ["lower", "upper"],
    )


def q_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: rare-category changes on high-cardinality l_partkey."""
    from pyspark_data_drift_detector_spark.operators.rare_events import rare_category_changes

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = rare_category_changes(ref, curr, ["l_partkey"], min_count=10, max_frequency=0.01)
    return _round_cols(
        out.select(
            "column",
            "category",
            "change_type",
            F.col("ref_count").cast("long").alias("ref_count"),
            F.col("curr_count").cast("long").alias("curr_count"),
            "ref_freq",
            "curr_freq",
            "rel_change",
            "severity",
        ),
        ["ref_freq", "curr_freq", "rel_change"],
    )


def q_rare_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: per-value rare-state transitions (``distribution_analyzer.py:366-383``)
    on l_suppkey — at sf0.01 the even/odd split flips ~50 values across the
    1% rare threshold, so change_type is exercised with real transitions."""
    from pyspark_data_drift_detector_spark.operators.distribution import rare_value_changes

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = rare_value_changes(ref, curr, ["l_suppkey"], rare_threshold=0.01)
    return _round_cols(
        out.select(
            "column_name",
            "value",
            "change_type",
            "prev_freq",
            "curr_freq",
            F.col("prev_count").cast("long").alias("prev_count"),
            F.col("curr_count").cast("long").alias("curr_count"),
            "ref_rare",
            "curr_rare",
        ),
        ["prev_freq", "curr_freq"],
    )


def q_robust_outlier_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based (modified z-score) outlier-rate drift over the lineitem
    split — the robust sibling of outlier_drift; medians/MAD are exact
    percentiles so the oracle replays with quantile_cont."""
    from pyspark_data_drift_detector_spark.operators.rare_events import (
        robust_outlier_drift,
    )

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = robust_outlier_drift(ref, curr, ["l_extendedprice", "l_quantity"])
    ints = ["ref_n", "curr_n", "ref_outliers", "curr_outliers"]
    rounded = ["ref_median", "ref_mad", "ref_outlier_rate", "curr_outlier_rate", "rate_change"]
    return _round_cols(
        out.select(
            "column_name",
            *[F.col(c).cast("long").alias(c) for c in ints],
            *rounded,
            "drift_detected",
        ),
        rounded,
    )


def _robust_outlier_drift_sql() -> str:
    cols = ["l_extendedprice", "l_quantity"]
    parts = []
    for c in cols:
        parts.append(f"""
        SELECT '{c}' AS column_name,
          CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
          CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS curr_n,
          CAST(SUM(CASE WHEN side = 'r' AND is_out THEN 1 ELSE 0 END) AS BIGINT) AS ref_outliers,
          CAST(SUM(CASE WHEN side = 'c' AND is_out THEN 1 ELSE 0 END) AS BIGINT) AS curr_outliers,
          ROUND(MAX(med), {ROUND}) AS ref_median,
          ROUND(MAX(mad), {ROUND}) AS ref_mad,
          ROUND(CAST(SUM(CASE WHEN side = 'r' AND is_out THEN 1 ELSE 0 END) AS DOUBLE)
            / GREATEST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END), 1), {ROUND}) AS ref_outlier_rate,
          ROUND(CAST(SUM(CASE WHEN side = 'c' AND is_out THEN 1 ELSE 0 END) AS DOUBLE)
            / GREATEST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END), 1), {ROUND}) AS curr_outlier_rate,
          ROUND(CAST(SUM(CASE WHEN side = 'c' AND is_out THEN 1 ELSE 0 END) AS DOUBLE)
            / GREATEST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END), 1)
            - CAST(SUM(CASE WHEN side = 'r' AND is_out THEN 1 ELSE 0 END) AS DOUBLE)
            / GREATEST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END), 1), {ROUND}) AS rate_change,
          ABS(CAST(SUM(CASE WHEN side = 'c' AND is_out THEN 1 ELSE 0 END) AS DOUBLE)
            / GREATEST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END), 1)
            - CAST(SUM(CASE WHEN side = 'r' AND is_out THEN 1 ELSE 0 END) AS DOUBLE)
            / GREATEST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END), 1)) > 0.01 AS drift_detected
        FROM (
          SELECT side, v, med, mad,
            (mad > 0 AND ABS(0.6745 * (v - med) / mad) > 3.5) AS is_out
          FROM (
            SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'r' ELSE 'c' END AS side,
                   CAST({c} AS DOUBLE) AS v
            FROM lineitem WHERE {c} IS NOT NULL)
          CROSS JOIN (
            SELECT med, (SELECT CAST(quantile_cont(ABS(CAST({c} AS DOUBLE) - med), 0.5) AS DOUBLE)
                         FROM lineitem WHERE l_orderkey % 2 = 0 AND {c} IS NOT NULL) AS mad
            FROM (SELECT CAST(quantile_cont(CAST({c} AS DOUBLE), 0.5) AS DOUBLE) AS med
                  FROM lineitem WHERE l_orderkey % 2 = 0 AND {c} IS NOT NULL))
        )""")
    return " UNION ALL ".join(parts)


def q_outlier_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13+M14: z-score and IQR outlier-rate drift over the lineitem split."""
    from pyspark_data_drift_detector_spark.operators.rare_events import outlier_drift

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = outlier_drift(ref, curr, ["l_extendedprice", "l_quantity"])
    ints = [
        "ref_n", "curr_n",
        "ref_z_outlier_count", "curr_z_outlier_count",
        "ref_outlier_count", "curr_outlier_count",
        "ref_extreme_count", "curr_extreme_count",
    ]
    rounded = ["ref_outlier_rate", "curr_outlier_rate", "outlier_rate_diff", "z_rel_change"]
    return _round_cols(
        out.select(
            "column_name",
            *[F.col(c).cast("long").alias(c) for c in ints],
            *rounded,
            "z_significant",
        ),
        rounded,
    )


def q_group_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M26 numeric half: per-group stats + percent changes, single pass."""
    from pyspark_data_drift_detector_spark.operators.groups import group_numeric_stats

    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    ref = df.filter(F.col("o_orderkey") % 2 == 0)
    curr = df.filter(F.col("o_orderkey") % 2 == 1)
    out = group_numeric_stats(ref, curr, "o_orderpriority", ["o_totalprice"], exact_median=True)
    rounded = [
        "ref_mean", "curr_mean", "ref_median", "curr_median",
        "mean_pct_change", "stddev_pct_change", "median_pct_change",
        "range_pct_change", "null_drift",
    ]
    return _round_cols(
        out.select(
            "dimension_value",
            "column_name",
            F.col("ref_rows").cast("long").alias("ref_rows"),
            F.col("curr_rows").cast("long").alias("curr_rows"),
            *rounded,
        ),
        rounded,
    )


def q_group_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M26+M21: full per-group drift rollup on orders by priority."""
    from pyspark_data_drift_detector_spark.operators.groups import group_drift

    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    ref = df.filter(F.col("o_orderkey") % 2 == 0)
    curr = df.filter(F.col("o_orderkey") % 2 == 1)
    out = group_drift(
        ref, curr, "o_orderpriority",
        numeric_columns=["o_totalprice"],
        categorical_columns=["o_orderstatus"],
        exact_median=True,
    )
    return _round_cols(
        out.select(
            "dimension_value",
            F.col("ref_rows").cast("long").alias("ref_rows"),
            F.col("curr_rows").cast("long").alias("curr_rows"),
            "row_pct_change",
            F.col("metrics_with_drift").cast("long").alias("metrics_with_drift"),
            "drift_score",
            "drift_detected",
        ),
        ["row_pct_change", "drift_score"],
    )


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+M3: all-pair correlations both sides + shift classification."""
    from pyspark_data_drift_detector_spark.operators.correlation import (
        correlation_pairs,
        correlation_shifts,
    )

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = correlation_shifts(
        correlation_pairs(ref, curr, CORR_COLS), change_threshold=0.05, strong_threshold=0.7
    )
    rounded = ["ref_correlation", "curr_correlation", "abs_change"]
    return _round_cols(
        out.select(
            "col1", "col2", *rounded, "significant_shift", "change_type",
            "new_strong_correlation", "disappeared_strong_correlation",
        ),
        rounded,
    )


def q_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: |corr(predictor, target)| importance drift + rank shifts."""
    from pyspark_data_drift_detector_spark.operators.correlation import feature_importance_drift

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = feature_importance_drift(
        ref, curr, "l_extendedprice", ["l_quantity", "l_discount", "l_tax"]
    )
    rounded = ["ref_importance", "curr_importance", "abs_change", "rel_change"]
    return _round_cols(
        out.select(
            "column", *rounded, "change_type",
            F.col("ref_rank").cast("int").alias("ref_rank"),
            F.col("curr_rank").cast("int").alias("curr_rank"),
            F.col("rank_shift").cast("int").alias("rank_shift"),
        ),
        rounded,
    )


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: tokens, BPE-ish tokens, punct/stopword ratios."""
    from pyspark_data_drift_detector_spark.operators.text import text_stats

    out = text_stats(_documents(spark, sf_dir))
    rounded = ["avg_word_len", "punct_ratio", "stopword_ratio", "quality_score"]
    return _round_cols(out, rounded)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language identification per document."""
    from pyspark_data_drift_detector_spark.operators.text import language_id

    out = language_id(_documents(spark, sf_dir))
    return out.select(
        "doc_id",
        *[F.col(f"hits_{lang}").cast("long").alias(f"hits_{lang}") for lang in ("en", "de", "es", "fr")],
        "detected_lang",
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint (md5 of lowercased collapsed text)."""
    from pyspark_data_drift_detector_spark.operators.text import fingerprint

    return fingerprint(_documents(spark, sf_dir))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups with deterministic survivors."""
    from pyspark_data_drift_detector_spark.operators.dedup import dedup_exact

    return dedup_exact(_documents(spark, sf_dir)).select(
        "doc_id", "content_key", "group_size", "survivor_id", "is_duplicate"
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard near-dup pairs (threshold 0.3)."""
    from pyspark_data_drift_detector_spark.operators.dedup import jaccard_pairs

    out = jaccard_pairs(_documents(spark, sf_dir), threshold=0.3)
    return _round_cols(out, ["jaccard"])


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dups (|A∩B| / min set size):
    the corpus plus synthetic 8-word excerpt docs (doc_id+1e6 for every
    doc_id%5==0) — an excerpt scores ~1.0 containment against its source
    while its Jaccard is tiny, the truncated-scrape case. Integer-ratio
    math, so the 0.5 cutoff is exact in both engines."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        containment_pairs,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    # offset sits far above any shipped SF's max doc_id (~5e3 at sf0.1);
    # a >=1e6-doc corpus would collide excerpt ids with real ones
    excerpts = docs.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id",
        "array_join(slice(split(trim(text), '\\\\s+'), 1, 8), ' ') AS text",
    )
    out = containment_pairs(docs.unionByName(excerpts), threshold=0.5)
    return _round_cols(out, ["containment"])


def _dedup_containment_sql(threshold: float = 0.5) -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, array_to_string(t[1:8], ' ')
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM documents WHERE doc_id % 5 = 0)),
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM src),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
        unnest(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                              i -> array_to_string(t[i:i+2], ' '))) AS shingle
      FROM toks)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT id1, id2, CAST(shared AS BIGINT) AS shared,
      CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
      ROUND(CAST(shared AS DOUBLE) / LEAST(s1.n, s2.n), {ROUND})
        AS containment
    FROM pairs
    JOIN sizes s1 ON s1.doc_id = pairs.id1
    JOIN sizes s2 ON s2.doc_id = pairs.id2
    WHERE CAST(shared AS DOUBLE) / LEAST(s1.n, s2.n) >= {threshold}"""


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup run's headline panel: cluster-size histogram (incl. the
    singleton row), per-size doc mass, would-drop count under keep-one,
    and corpus share — over the same md5-family MinHash-LSH clustering
    q_dedup_clusters gates."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_cluster_stats,
        minhash_lsh_pairs,
        neardup_clusters,
    )

    docs = _documents(spark, sf_dir)
    clusters = neardup_clusters(
        minhash_lsh_pairs(docs, threshold=0.3, hash_family="md5")
    )
    return _round_cols(
        dedup_cluster_stats(docs, clusters), ["corpus_share"]
    )


def _dedup_report_sql(threshold: float = 0.3) -> str:
    return f"""
    WITH cc AS ({_dedup_clusters_sql(threshold)}),
    sizes AS (SELECT cluster_id, COUNT(*) AS s FROM cc GROUP BY 1),
    hist AS (
      SELECT CAST(s AS BIGINT) AS cluster_size,
        CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(s * COUNT(*) AS BIGINT) AS n_docs
      FROM sizes GROUP BY s),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_docs FROM documents),
    cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM cc),
    panel AS (
      SELECT * FROM hist
      UNION ALL
      SELECT CAST(1 AS BIGINT), corpus_docs - c, corpus_docs - c
      FROM tot, cl WHERE corpus_docs > c)
    SELECT cluster_size, n_clusters, n_docs,
      CAST(n_docs - n_clusters AS BIGINT) AS would_drop,
      ROUND(n_docs / CAST(corpus_docs AS DOUBLE), {ROUND}) AS corpus_share
    FROM panel, tot"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs (min-label
    propagation; what survivor selection consumes). The md5 hash family
    makes the pair set — and therefore the clustering — SQL-replayable via
    a recursive-CTE transitive closure."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_clusters,
    )

    pairs = minhash_lsh_pairs(_documents(spark, sf_dir), threshold=0.3, hash_family="md5")
    out = neardup_clusters(pairs)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, Jaccard-verified. Runs the md5 affine
    hash family so the full banding algebra (signature → band → candidate →
    verify) replays value-for-value in the DuckDB oracle; production default
    stays xxhash64 (same plan, cheaper hash)."""
    from pyspark_data_drift_detector_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(_documents(spark, sf_dir), threshold=0.3, hash_family="md5")
    return _round_cols(out.select("id1", "id2", "jaccard"), ["jaccard"])


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance, md5 60-bit family for
    full SQL replay (bit votes, band keys, XOR popcount)."""
    from pyspark_data_drift_detector_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_documents(spark, sf_dir), max_distance=8, hash_family="md5").select(
        "id1", "id2", F.col("hamming").cast("int").alias("hamming")
    )


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    from pyspark_data_drift_detector_spark.operators.similarity import cosine_topk

    emb = _embeddings(spark, sf_dir)
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return _round_cols(out, ["cosine"])


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5; the seeded hyperplanes are
    deterministic constants, so the full pipeline (sign bits, band keys,
    collisions, re-rank) is value-checked against a SQL replay."""
    from pyspark_data_drift_detector_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark, sf_dir)
    out = lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64, n_planes=16, bands=8)
    return _round_cols(out, ["cosine"])


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-5 (deterministic centroids + nprobe=2 cell probing)
    — fully oracle-checked: every step (coarse quantization, inverted-file
    assignment, probe, re-rank) is replayed in SQL."""
    from pyspark_data_drift_detector_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=2)
    return _round_cols(out, ["cosine"])


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (per-section k-means codebooks, ADC
    candidate scan, exact cosine re-rank). The k-means fit is iterative
    driver-side numpy on a deterministic sample, so the oracle uses the
    fit-then-inline pattern (the ``_mmd_drift_sql`` precedent):
    ``_ann_pq_sql`` refits the identical codebooks from the same parquet
    sample without Spark (``pq_kmeans_numpy``) and replays
    encode → ADC → top-C → exact re-rank in DuckDB with the same
    left-fold accumulation order, so every float is bit-comparable."""
    from pyspark_data_drift_detector_spark.operators.similarity import pq_topk

    emb = _embeddings(spark, sf_dir)
    out = pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=3, candidates=50)
    return _round_cols(out, ["cosine"])


def _fold_sql(terms: list[str]) -> str:
    """Left-associated sum with 0.0 init — bit-matches Spark's
    ``aggregate(..., 0.0D, (a, x) -> a + x)`` fold."""
    acc = "0.0"
    for t in terms:
        acc = f"({acc} + {t})"
    return acc


def _ann_pq_sql(dim: int = 64, m: int = 8, n_codes: int = 32) -> str:
    """DuckDB replay of q_ann_pq with codebooks fitted from the same
    deterministic parquet sample (first 2048 rows by vec_id) the Spark
    side uses, via the shared ``pq_kmeans_numpy`` core."""
    import os as _os

    import duckdb as _duckdb

    from pyspark_data_drift_detector_spark.operators.similarity import (
        pq_kmeans_numpy,
    )

    # the driver compares at sf0.01 (neither var set); pytest's conftest
    # pins SPARK_GRAFT_SF_DIR_TEST so the refit sees the test scale
    sfd = _os.environ.get(
        "SPARK_GRAFT_SF_DIR_TEST",
        _os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    sample = [
        r[0]
        for r in _duckdb.connect()
        .execute(
            "SELECT CAST(embedding AS DOUBLE[]) FROM "
            f"read_parquet('{sfd}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 2048"
        )
        .fetchall()
    ]
    books = pq_kmeans_numpy(sample, m, n_codes)
    sub = dim // m

    # squared L2 norm fold over all dims, then per-element normalize
    norm_fold = _fold_sql([f"e[{i}] * e[{i}]" for i in range(1, dim + 1)])

    def section_dists(vec: str, s: int) -> str:
        """List of n_codes squared distances, codeword terms left-folded."""
        exprs = []
        for code in books[s]:
            terms = [
                f"({vec}[{s * sub + j + 1}] - {float(code[j])!r})"
                f" * ({vec}[{s * sub + j + 1}] - {float(code[j])!r})"
                for j in range(sub)
            ]
            exprs.append(_fold_sql(terms))
        return "[" + ", ".join(exprs) + "]"

    enc_cols = ", ".join(
        f"list_position({section_dists('ce', s)},"
        f" list_min({section_dists('ce', s)})) AS code{s}"
        for s in range(m)
    )
    qtab_cols = ", ".join(
        f"{section_dists('qe', s)} AS qd{s}" for s in range(m)
    )
    adc = _fold_sql([f"qd{s}[code{s}]" for s in range(m)])
    cosine = _fold_sql([f"qe[{i}] * ce[{i}]" for i in range(1, dim + 1)])
    return f"""
    WITH raw AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE embedding IS NOT NULL),
    nrm AS (
      SELECT vec_id, list_transform(e, x -> x /
               greatest(sqrt({norm_fold}), 1e-12)) AS v
      FROM raw),
    corpus AS (
      SELECT vec_id AS neighbor_id, v AS ce, {enc_cols}
      FROM (SELECT vec_id, v, v AS ce FROM nrm)),
    q AS (
      SELECT vec_id AS query_id, v AS qe, {qtab_cols}
      FROM (SELECT vec_id, v, v AS qe FROM nrm) WHERE vec_id < 10),
    adc AS (
      SELECT query_id, neighbor_id, ce, qe, {adc} AS adc_distance
      FROM corpus CROSS JOIN q WHERE query_id != neighbor_id),
    cand AS (
      SELECT query_id, neighbor_id, ce, qe FROM adc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc_distance ASC, neighbor_id ASC) <= 50),
    rer AS (SELECT query_id, neighbor_id, {cosine} AS cosine FROM cand)
    SELECT query_id, neighbor_id, ROUND(cosine, {ROUND}) AS cosine,
      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM rer
    QUALIFY rank <= 3"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Threshold 0.4 — the synthetic embeddings are near-orthogonal random
    vectors (max pairwise cosine ≈ 0.51), so a production-style 0.9 cutoff
    matches nothing and the oracle comparison would be vacuous. 0.4 yields
    ~60 pairs at sf0.01, with the nearest cosine ≥1e-4 away from the cutoff,
    so the blocked-GEMM math is value-checked on real output."""
    from pyspark_data_drift_detector_spark.operators.dedup import embedding_neardup_pairs

    out = embedding_neardup_pairs(_embeddings(spark, sf_dir), threshold=0.4)
    return _round_cols(out, ["cosine"])


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windowed profile over events (batch twin of the
    Structured Streaming path — same transformation function)."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import windowed_profile

    # window boundaries + formatting must agree with the oracle's naive
    # (UTC-written) timestamps regardless of the host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = windowed_profile(load_events(spark, sf_dir), window_duration="1 day")
    return _round_cols(
        out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("null_count").cast("long").alias("null_count"),
            "mean",
            "stddev",
            "min",
            "max",
        ),
        ["mean", "stddev", "min", "max"],
    )


def q_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2: semantic column-type inference (the union of the reference's
    four divergent implementations) over lineitem; exact cardinality so the
    DuckDB oracle can replay the 5% distinct-ratio rule."""
    from pyspark_data_drift_detector_spark.functions.inference import infer_column_types

    types = infer_column_types(_lineitem(spark, sf_dir), exact_distinct=True)
    return spark.createDataFrame(
        sorted(types.items()), "column_name string, semantic_type string"
    )


def q_adaptive_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M22: per-column adaptive thresholds as ONE distributed aggregate."""
    from pyspark_data_drift_detector_spark.operators.adaptive import adaptive_threshold_table

    out = adaptive_threshold_table(_lineitem(spark, sf_dir), LINEITEM_NUMERIC)
    rounded = [
        "cv", "size_factor", "complexity_factor", "volatility_factor",
        "cardinality_factor", "null_factor", "composed_threshold", "adaptive_threshold",
    ]
    return _round_cols(out, rounded)


def q_drift_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M23+T4: severity bands over numeric drift scores + top-drifted rank.

    Severity and rank are computed from the UNROUNDED score (band edges and
    orderings must not depend on display rounding); only the emitted score
    is rounded."""
    from pyspark.sql import Window

    from pyspark_data_drift_detector_spark.operators.numeric_drift import numeric_drift_pair

    ref, curr = _split(_lineitem(spark, sf_dir))
    drift = numeric_drift_pair(ref, curr, columns=LINEITEM_NUMERIC, quantiles=(0.25, 0.5, 0.75))
    score = F.col("drift_score")
    severity = (
        F.when(score < 0.1, "None")
        .when(score < 0.25, "Low")
        .when(score < 0.5, "Medium")
        .when(score < 0.75, "High")
        .otherwise("Critical")
    )
    w = Window.orderBy(F.desc("drift_score"), F.asc("column_name"))
    return drift.select(
        "column_name",
        F.round(score, ROUND).alias("drift_score"),
        severity.alias("severity"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M25: schema diff rows for a synthetic evolution of lineitem
    (drop l_tax, add l_flag, widen l_linenumber, narrow l_quantity)."""
    from pyspark_data_drift_detector_spark.operators.schema_drift import (
        schema_diff,
        schema_drift_rows,
    )

    df = _lineitem(spark, sf_dir)
    curr = (
        df.drop("l_tax")
        .withColumn("l_flag", F.lit("x"))
        .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))
        .withColumn("l_quantity", F.col("l_quantity").cast("string"))
    )
    return schema_drift_rows(spark, schema_diff(df.schema, curr.schema))


CORR_GROUP_COLS = ["l_quantity", "l_extendedprice", "l_total", "l_taxamt"]
CORR_GROUP_THRESHOLD = 0.5


def _with_derived(df: DataFrame) -> DataFrame:
    """Derived value columns with real correlation structure (the raw
    synthetic columns are mutually independent)."""
    return df.withColumn(
        "l_total", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).withColumn("l_taxamt", F.col("l_extendedprice") * F.col("l_tax"))


def q_corr_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: connected components of the |corr| ≥ τ graph per side
    (driver BFS over the O(columns²) pair rows; group_id = min member)."""
    from pyspark_data_drift_detector_spark.operators.correlation import (
        correlation_groups,
        correlation_pairs,
    )

    ref, curr = _split(_with_derived(_lineitem(spark, sf_dir)))
    pairs = correlation_pairs(ref, curr, CORR_GROUP_COLS).collect()
    rows = []
    for side in ("ref", "curr"):
        for comp in correlation_groups(pairs, threshold=CORR_GROUP_THRESHOLD, side=side):
            gid = min(comp)
            rows.extend((side, gid, c) for c in sorted(comp))
    return spark.createDataFrame(rows, "side string, group_id string, column_name string")


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion plumbing: opaque binary payload + typed metadata
    (payload derived deterministically from text so DuckDB can verify)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import attach_fake_payload

    out = attach_fake_payload(_documents(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub image decode via mapInPandas — numpy byte math (count, mean,
    population std, 8-bucket histogram) value-verified against a DuckDB
    replay over the payload bytes (ASCII text ⇒ bytes are code points).
    The FNV head hash stays unit-test-only (no overflow-safe SQL replay)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_fake_payload,
        decode_images,
    )

    feats = decode_images(attach_fake_payload(_documents(spark, sf_dir)))
    out = feats.select(
        "doc_id",
        "n_bytes",
        "byte_mean",
        "byte_std",
        F.posexplode("features").alias("bucket", "ratio"),
    ).withColumn("bucket", F.col("bucket").cast("int"))
    return _round_cols(out, ["byte_mean", "byte_std", "ratio"])


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub video frame sampling: 1→N row fan-out via mapInPandas. The
    chunk arithmetic (step = max(len//n, 1), python-slice tail truncation)
    and the frame CONTENT are value-verified — payloads are ASCII text, so
    the oracle replays the slicing with substring."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_fake_payload,
        sample_frames,
    )

    frames = sample_frames(attach_fake_payload(_documents(spark, sf_dir)), n_frames=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame_bytes").cast("long").alias("frame_bytes_len"),
        F.col("frame_bytes").cast("string").alias("frame_text"),
    )


_JPEG_DECODE_ROWS = [
    (0, 837, 'jpeg', 16, 16, 127.81211, 70.27942, False),
    (1, 832, 'jpeg', 16, 16, 127.82524, 70.26573, False),
    (2, 839, 'jpeg', 16, 16, 127.77611, 69.8087, False),
    (3, 7, None, None, None, None, None, True),
    (4, 834, 'jpeg', 16, 16, 127.76348, 70.185, False),
    (5, 829, 'jpeg', 16, 16, 127.74095, 70.10041, False),
    (6, 837, 'jpeg', 16, 16, 127.81124, 70.06096, False),
    (7, 839, 'jpeg', 16, 16, 127.67836, 69.83923, False),
    (8, 835, 'jpeg', 16, 16, 127.81673, 70.13004, False),
    (9, 821, 'jpeg', 16, 16, 127.73487, 69.69721, False),
    (10, 835, 'jpeg', 16, 16, 127.79825, 70.19452, False),
    (11, 841, 'jpeg', 16, 16, 127.682, 70.22112, False),
    (12, 833, 'jpeg', 16, 16, 127.73717, 70.03258, False),
    (13, 7, None, None, None, None, None, True),
    (14, 838, 'jpeg', 16, 16, 127.76563, 70.15543, False),
    (15, 838, 'jpeg', 16, 16, 127.79358, 69.95774, False),
    (16, 824, 'jpeg', 16, 16, 127.84698, 70.07668, False),
    (17, 834, 'jpeg', 16, 16, 127.77251, 70.199, False),
    (18, 834, 'jpeg', 16, 16, 127.74348, 70.23509, False),
    (19, 836, 'jpeg', 16, 16, 127.816, 69.98449, False),
    (20, 829, 'jpeg', 16, 16, 127.82431, 69.82536, False),
    (21, 838, 'jpeg', 16, 16, 127.81683, 70.07082, False),
    (22, 838, 'jpeg', 16, 16, 127.82414, 69.71361, False),
    (23, 7, None, None, None, None, None, True),
    (24, 834, 'jpeg', 16, 16, 127.70218, 69.99317, False),
    (25, 837, 'jpeg', 16, 16, 127.628, 70.10574, False),
    (26, 837, 'jpeg', 16, 16, 127.78356, 70.04477, False),
    (27, 835, 'jpeg', 16, 16, 127.81798, 70.05215, False),
    (28, 835, 'jpeg', 16, 16, 127.63623, 70.02793, False),
    (29, 837, 'jpeg', 16, 16, 127.61029, 69.89547, False),
    (30, 832, 'jpeg', 16, 16, 127.66522, 70.03334, False),
    (31, 833, 'jpeg', 16, 16, 127.84032, 70.09466, False),
    (32, 838, 'jpeg', 16, 16, 127.73492, 70.41162, False),
    (33, 7, None, None, None, None, None, True),
    (34, 834, 'jpeg', 16, 16, 127.89801, 70.15068, False),
    (35, 836, 'jpeg', 16, 16, 127.70855, 70.04937, False),
    (36, 839, 'jpeg', 16, 16, 127.82068, 70.07522, False),
    (37, 833, 'jpeg', 16, 16, 127.72853, 70.18976, False),
    (38, 825, 'jpeg', 16, 16, 127.75297, 69.73138, False),
    (39, 839, 'jpeg', 16, 16, 127.73315, 70.33528, False),
    (40, 836, 'jpeg', 16, 16, 127.74833, 69.66738, False),
    (41, 831, 'jpeg', 16, 16, 127.77934, 70.14726, False),
    (42, 825, 'jpeg', 16, 16, 127.6336, 69.83854, False),
    (43, 7, None, None, None, None, None, True),
    (44, 841, 'jpeg', 16, 16, 127.8615, 70.24333, False),
    (45, 833, 'jpeg', 16, 16, 127.76278, 70.30749, False),
    (46, 832, 'jpeg', 16, 16, 127.75946, 69.90061, False),
    (47, 836, 'jpeg', 16, 16, 127.66652, 69.92654, False),
    (48, 839, 'jpeg', 16, 16, 127.72339, 69.98606, False),
    (49, 826, 'jpeg', 16, 16, 127.77482, 69.82816, False),
    (50, 833, 'jpeg', 16, 16, 127.73648, 70.27822, False),
    (51, 839, 'jpeg', 16, 16, 127.65232, 70.31332, False),
    (52, 835, 'jpeg', 16, 16, 127.79407, 70.03322, False),
    (53, 7, None, None, None, None, None, True),
    (54, 835, 'jpeg', 16, 16, 127.81538, 70.15833, False),
    (55, 838, 'jpeg', 16, 16, 127.79329, 69.93286, False),
    (56, 838, 'jpeg', 16, 16, 127.74143, 70.1847, False),
    (57, 834, 'jpeg', 16, 16, 127.77532, 70.10983, False),
    (58, 835, 'jpeg', 16, 16, 127.78772, 70.09956, False),
    (59, 835, 'jpeg', 16, 16, 127.76083, 70.02684, False),
]


def _jpeg_decode_sql() -> str:
    """Precomputed-oracle table for q_jpeg_decode (see
    tools/gen_jpeg_oracle.py): JPEG is lossy, so the oracle pins the
    deterministic decoder output instead of a pixel closed form."""
    vals = []
    for d, n, fmt, w, h, lm, ls, failed in _JPEG_DECODE_ROWS:
        fmt_s = f"'{fmt}'" if fmt else "CAST(NULL AS VARCHAR)"
        w_s = str(w) if w is not None else "CAST(NULL AS INT)"
        h_s = str(h) if h is not None else "CAST(NULL AS INT)"
        lm_s = (f"CAST({lm!r} AS DOUBLE)" if lm is not None
                else "CAST(NULL AS DOUBLE)")
        ls_s = (f"CAST({ls!r} AS DOUBLE)" if ls is not None
                else "CAST(NULL AS DOUBLE)")
        vals.append(
            f"({d}, CAST({n} AS BIGINT), {fmt_s}, {w_s}, {h_s},"
            f" {lm_s}, {ls_s}, {str(failed).upper()})"
        )
    body = ",\n      ".join(vals)
    # join against documents so the row set tracks the fixture predicate
    return f"""
    SELECT t.* FROM (VALUES
      {body})
      AS t(doc_id, n_bytes, fmt, width, height, luma_mean, luma_std,
           failed)
    WHERE t.doc_id IN (SELECT doc_id FROM documents WHERE doc_id < 60)"""


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode: a genuine baseline-sequential JPEG
    (4:2:0, quality 90) is built per doc_id < 60 from the closed-form
    pixels (functions.jpeg.encode_jpeg — pure NumPy, no image library),
    every doc_id%10==3 payload corrupted after the magic, and parsed
    back by the pure-NumPy Huffman+IDCT decoder inside
    decode_images(codec='auto'). JPEG is lossy, so no SQL closed form
    exists; the oracle pins a PRECOMPUTED table of the decoder's
    deterministic output (regenerate with tools/gen_jpeg_oracle.py) —
    any drift in marker parsing, Huffman tables, dequantization, IDCT
    rounding, upsampling, or color conversion breaks the hash."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 60")
    jpgs = attach_synthetic_image(ids, width=16, height=16, fmt="jpeg")
    jpgs = jpgs.withColumn(
        "payload",
        F.when(
            F.col("doc_id") % 10 == 3, F.lit(b"\xff\xd8\xffjunk")
        ).otherwise(F.col("payload")),
    )
    out = decode_images(jpgs, codec="auto").selectExpr(
        "doc_id",
        "n_bytes",
        "format AS fmt",
        "CAST(width AS INT) AS width",
        "CAST(height AS INT) AS height",
        "luma_mean",
        "luma_std",
        "CAST(decode_error IS NOT NULL AS BOOLEAN) AS failed",
    )
    return _round_cols(out, ["luma_mean", "luma_std"])


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: a genuine binary P6 PPM payload is built per doc
    (pixel bytes follow the closed form (doc_id*31 + i*7) % 256 — see
    attach_synthetic_image) and parsed back by the real codec in
    decode_images(codec='auto'): header grammar, dimension extraction, and
    numpy pixel statistics all on the hot path. The oracle recomputes every
    statistic from the pixel formula alone — if the encoder and parser
    disagreed anywhere (byte order, header length, row layout), the stats
    would diverge."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )

    payloads = attach_synthetic_image(
        _documents(spark, sf_dir).select("doc_id"), width=8, height=4, fmt="ppm"
    )
    out = decode_images(payloads, codec="auto").selectExpr(
        "doc_id",
        "n_bytes",
        "format AS fmt",
        "CAST(width AS INT) AS width",
        "CAST(height AS INT) AS height",
        "CAST(channels AS INT) AS channels",
        "channel_mean[0] AS r_mean",
        "channel_mean[1] AS g_mean",
        "channel_mean[2] AS b_mean",
        "channel_std[0] AS r_std",
        "luma_mean",
        "luma_std",
    )
    return _round_cols(
        out, ["r_mean", "g_mean", "b_mean", "r_std", "luma_mean", "luma_std"]
    )


def _image_decode_sql(w: int = 8, h: int = 4) -> str:
    """Closed-form replay of the synthetic-PPM decode: pixel v(i) =
    (doc_id*31 + i*7) % 256 over the row-major (h, w, 3) grid; channel =
    i % 3, pixel index = i // 3, luma = Rec. 601 weights. n_bytes is the
    fixed header ('P6\\n8 4\\n255\\n' = 11 bytes) plus w*h*3 samples."""
    n = w * h * 3
    header = 3 + len(f"{w} {h}") + 1 + 4  # 'P6\n' + dims + '\n' + '255\n'
    return f"""
    WITH px AS (
      SELECT d.doc_id, CAST((d.doc_id * 31 + r.i * 7) % 256 AS DOUBLE) AS v,
             r.i % 3 AS ch, r.i // 3 AS pix
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN range({n}) r(i)),
    chan AS (
      SELECT doc_id, ch, AVG(v) AS m, STDDEV_POP(v) AS sd
      FROM px GROUP BY 1, 2),
    lpx AS (
      SELECT doc_id, pix,
        SUM(v * CASE ch WHEN 0 THEN 0.299 WHEN 1 THEN 0.587 ELSE 0.114 END) AS luma
      FROM px GROUP BY 1, 2),
    l AS (SELECT doc_id, AVG(luma) AS m, STDDEV_POP(luma) AS sd
          FROM lpx GROUP BY 1)
    SELECT c0.doc_id,
      CAST({header + n} AS BIGINT) AS n_bytes,
      'ppm' AS fmt,
      CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
      CAST(3 AS INT) AS channels,
      ROUND(c0.m, {ROUND}) AS r_mean,
      ROUND(c1.m, {ROUND}) AS g_mean,
      ROUND(c2.m, {ROUND}) AS b_mean,
      ROUND(c0.sd, {ROUND}) AS r_std,
      ROUND(l.m, {ROUND}) AS luma_mean,
      ROUND(l.sd, {ROUND}) AS luma_std
    FROM (SELECT * FROM chan WHERE ch = 0) c0
    JOIN (SELECT * FROM chan WHERE ch = 1) c1 USING (doc_id)
    JOIN (SELECT * FROM chan WHERE ch = 2) c2 USING (doc_id)
    JOIN l USING (doc_id)"""


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode: a genuine non-interlaced 8-bit PNG is built per
    doc (functions.png.encode_png over the closed-form pixels, with the
    'mixed' filter cycling all five scanline filters — at 5 rows every
    image exercises every unfilter path: None/Sub/Up/Average/Paeth) and
    parsed back by the stdlib-zlib decoder in decode_images(codec='auto').
    PNG is LOSSLESS, so unlike jpeg_decode the oracle replays every
    statistic from the pixel formula alone — wrong filter math, palette
    handling, or CRC walk would diverge. n_bytes is excluded: the DEFLATE
    stream length is zlib-version-specific, pixels are not."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 150")
    payloads = attach_synthetic_image(ids, width=8, height=5, fmt="png")
    out = decode_images(payloads, codec="auto").selectExpr(
        "doc_id",
        "format AS fmt",
        "CAST(width AS INT) AS width",
        "CAST(height AS INT) AS height",
        "CAST(channels AS INT) AS channels",
        "channel_mean[0] AS r_mean",
        "channel_mean[1] AS g_mean",
        "channel_mean[2] AS b_mean",
        "channel_std[0] AS r_std",
        "luma_mean",
        "luma_std",
    )
    return _round_cols(
        out, ["r_mean", "g_mean", "b_mean", "r_std", "luma_mean", "luma_std"]
    )


def _png_decode_sql(w: int = 8, h: int = 5, fmt: str = "png") -> str:
    """Closed-form replay of a synthetic LOSSLESS compressed-image decode
    (png and gif share it) — identical pixel math to _image_decode_sql,
    minus the n_bytes column (compressed length is library-specific)."""
    n = w * h * 3
    return f"""
    WITH px AS (
      SELECT d.doc_id, CAST((d.doc_id * 31 + r.i * 7) % 256 AS DOUBLE) AS v,
             r.i % 3 AS ch, r.i // 3 AS pix
      FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 150) d
      CROSS JOIN range({n}) r(i)),
    chan AS (
      SELECT doc_id, ch, AVG(v) AS m, STDDEV_POP(v) AS sd
      FROM px GROUP BY 1, 2),
    lpx AS (
      SELECT doc_id, pix,
        SUM(v * CASE ch WHEN 0 THEN 0.299 WHEN 1 THEN 0.587 ELSE 0.114 END) AS luma
      FROM px GROUP BY 1, 2),
    l AS (SELECT doc_id, AVG(luma) AS m, STDDEV_POP(luma) AS sd
          FROM lpx GROUP BY 1)
    SELECT c0.doc_id,
      '{fmt}' AS fmt,
      CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
      CAST(3 AS INT) AS channels,
      ROUND(c0.m, {ROUND}) AS r_mean,
      ROUND(c1.m, {ROUND}) AS g_mean,
      ROUND(c2.m, {ROUND}) AS b_mean,
      ROUND(c0.sd, {ROUND}) AS r_std,
      ROUND(l.m, {ROUND}) AS luma_mean,
      ROUND(l.sd, {ROUND}) AS luma_std
    FROM (SELECT * FROM chan WHERE ch = 0) c0
    JOIN (SELECT * FROM chan WHERE ch = 1) c1 USING (doc_id)
    JOIN (SELECT * FROM chan WHERE ch = 2) c2 USING (doc_id)
    JOIN l USING (doc_id)"""


def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode: a genuine PackBits-compressed
    2-rows-per-strip little-endian TIFF is built per doc
    (functions.tiff.encode_tiff over the closed-form pixels) and parsed
    back by the pure-Python strip codec in decode_images(codec='auto')
    — IFD walk, inline-vs-offset values, multi-strip reassembly, RLE.
    TIFF baseline is LOSSLESS, so the oracle replays every statistic
    from the pixel formula alone — wrong PackBits runs, strip order, or
    byte-order handling would diverge."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 150")
    payloads = attach_synthetic_image(ids, width=8, height=5, fmt="tiff")
    out = decode_images(payloads, codec="auto").selectExpr(
        "doc_id",
        "format AS fmt",
        "CAST(width AS INT) AS width",
        "CAST(height AS INT) AS height",
        "CAST(channels AS INT) AS channels",
        "channel_mean[0] AS r_mean",
        "channel_mean[1] AS g_mean",
        "channel_mean[2] AS b_mean",
        "channel_std[0] AS r_std",
        "luma_mean",
        "luma_std",
    )
    return _round_cols(
        out, ["r_mean", "g_mean", "b_mean", "r_std", "luma_mean", "luma_std"]
    )


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode: a genuine interlaced GIF89a is built per doc
    (functions.gif.encode_gif — real dictionary-building LZW over the
    closed-form pixels' palette) and parsed back by the pure-Python LZW
    decoder inside decode_images(codec='auto'), including the
    four-pass interlace reorder. GIF is LOSSLESS for <=256-color
    frames, so the oracle replays every statistic from the pixel
    formula alone — wrong LZW width bumps, palette order, or interlace
    math would diverge."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 150")
    payloads = attach_synthetic_image(ids, width=8, height=5, fmt="gif")
    out = decode_images(payloads, codec="auto").selectExpr(
        "doc_id",
        "format AS fmt",
        "CAST(width AS INT) AS width",
        "CAST(height AS INT) AS height",
        "CAST(channels AS INT) AS channels",
        "channel_mean[0] AS r_mean",
        "channel_mean[1] AS g_mean",
        "channel_mean[2] AS b_mean",
        "channel_std[0] AS r_std",
        "luma_mean",
        "luma_std",
    )
    return _round_cols(
        out, ["r_mean", "g_mean", "b_mean", "r_std", "luma_mean", "luma_std"]
    )


def q_image_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal drift closed end-to-end: decode REAL synthetic PPM
    payloads on both sides (ref docs at 8x4, curr docs at 12x4 — the
    "someone changed the resize config" scenario), extract per-image
    numeric features (dims, channel means, luma), and feed them through
    the SAME weighted numeric-drift scorer the tabular pipeline uses —
    the multimodal sibling of text_quality_drift. The width feature
    drifts hard (8 → 12); the pixel-statistic features shift subtly with
    the doc_id parity. Payload bytes never shuffle (plan-pinned in
    test_plans.py)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )
    from pyspark_data_drift_detector_spark.operators.numeric_drift import (
        numeric_drift_pair,
    )

    ids = _documents(spark, sf_dir).select("doc_id")
    feat_cols = [
        "width", "height", "r_mean", "g_mean", "b_mean",
        "luma_mean", "luma_std",
    ]

    def feats(parity: int, w: int) -> DataFrame:
        payload = attach_synthetic_image(
            ids.filter(f"doc_id % 2 = {parity}"), width=w, height=4,
            fmt="ppm",
        )
        return decode_images(payload, codec="auto").selectExpr(
            "CAST(width AS DOUBLE) AS width",
            "CAST(height AS DOUBLE) AS height",
            "channel_mean[0] AS r_mean",
            "channel_mean[1] AS g_mean",
            "channel_mean[2] AS b_mean",
            "luma_mean",
            "luma_std",
        )

    drift = numeric_drift_pair(
        feats(0, 8), feats(1, 12), columns=feat_cols,
        quantiles=(0.25, 0.5, 0.75),
    )
    rounded = [
        "mean_relative_diff", "median_relative_diff",
        "std_dev_relative_diff", "iqr_relative_diff",
        "range_relative_diff", "null_diff", "drift_score",
    ]
    return _round_cols(
        drift.select("column_name", *rounded, "drift_detected"), rounded
    )


def _image_feats_src_sql(w: int, h: int, parity: int) -> str:
    """FROM-able subquery replaying one side's decoded image features
    (the `_image_decode_sql` closed form, projected to the drift
    feature columns)."""
    n = w * h * 3
    return f"""(WITH px AS (
      SELECT d.doc_id, CAST((d.doc_id * 31 + r.i * 7) % 256 AS DOUBLE) AS v,
             r.i % 3 AS ch, r.i // 3 AS pix
      FROM (SELECT DISTINCT doc_id FROM documents
            WHERE doc_id % 2 = {parity}) d
      CROSS JOIN range({n}) r(i)),
    chan AS (SELECT doc_id, ch, AVG(v) AS m FROM px GROUP BY 1, 2),
    lpx AS (
      SELECT doc_id, pix,
        SUM(v * CASE ch WHEN 0 THEN 0.299 WHEN 1 THEN 0.587
                 ELSE 0.114 END) AS luma
      FROM px GROUP BY 1, 2),
    l AS (SELECT doc_id, AVG(luma) AS m, STDDEV_POP(luma) AS sd
          FROM lpx GROUP BY 1)
    SELECT c0.doc_id, CAST({w} AS DOUBLE) AS width,
      CAST({h} AS DOUBLE) AS height,
      c0.m AS r_mean, c1.m AS g_mean, c2.m AS b_mean,
      l.m AS luma_mean, l.sd AS luma_std
    FROM (SELECT * FROM chan WHERE ch = 0) c0
    JOIN (SELECT * FROM chan WHERE ch = 1) c1 USING (doc_id)
    JOIN (SELECT * FROM chan WHERE ch = 2) c2 USING (doc_id)
    JOIN l USING (doc_id))"""


def _image_feature_drift_sql() -> str:
    feat_cols = [
        "width", "height", "r_mean", "g_mean", "b_mean",
        "luma_mean", "luma_std",
    ]
    return _numeric_drift_body_sql(
        _profile_cte(
            "ref", "TRUE", cols=feat_cols,
            src=_image_feats_src_sql(8, 4, 0),
        ),
        _profile_cte(
            "curr", "TRUE", cols=feat_cols,
            src=_image_feats_src_sql(12, 4, 1),
        ),
    )


def q_alignment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal alignment drift (operators.multimodal.alignment_drift):
    paired image/text embeddings where the ref side's image vectors are a
    0.9·e + 0.1·reverse(e) mix of the text vector and the curr side
    degrades to 0.5/0.5 — the "image encoder checkpoint swapped" incident.
    Per-pair cosines via one narrow zip map (embeddings never shuffled),
    then the SAME weighted numeric-drift scorer as the tabular pipeline;
    the oracle replays the cosine fold bit-exactly (left-folded 64-dim
    sums, the _ann_pq_sql convention)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        alignment_drift,
    )

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )

    def side(parity: int, w_self: float, w_rev: float) -> DataFrame:
        mixed = F.zip_with(
            F.col("e"),
            F.reverse(F.col("e")),
            lambda a, b: F.lit(w_self) * a + F.lit(w_rev) * b,
        )
        return emb.filter(f"vec_id % 2 = {parity}").select(
            F.col("e").alias("text_embedding"),
            mixed.alias("image_embedding"),
        )

    out = alignment_drift(
        side(0, 0.9, 0.1), side(1, 0.5, 0.5), quantiles=(0.25, 0.5, 0.75)
    )
    rounded = [
        "mean_relative_diff", "median_relative_diff",
        "std_dev_relative_diff", "iqr_relative_diff",
        "range_relative_diff", "null_diff", "drift_score",
    ]
    return _round_cols(
        out.select("column_name", *rounded, "drift_detected"), rounded
    )


def _alignment_side_sql(where: str, w_self: float, w_rev: float) -> str:
    """FROM-able subquery replaying one side's per-pair alignment
    cosines: the image vector is the w_self·e + w_rev·reverse(e) mix,
    and the cosine's dot/norm sums are left-folded over all 64 dims in
    Spark's aggregate order so every double is bit-comparable."""
    dim = 64
    dot = _fold_sql([f"img[{i}] * t[{i}]" for i in range(1, dim + 1)])
    n_img = _fold_sql([f"img[{i}] * img[{i}]" for i in range(1, dim + 1)])
    n_txt = _fold_sql([f"t[{i}] * t[{i}]" for i in range(1, dim + 1)])
    return f"""(WITH s AS (
      SELECT CAST(embedding AS DOUBLE[]) AS t FROM embeddings
      WHERE {where}),
    p AS (
      SELECT t, list_transform(range(1, {dim + 1}),
        i -> {w_self!r} * t[i] + {w_rev!r} * t[{dim + 1} - i]) AS img
      FROM s)
    SELECT {dot} / (SQRT({n_img}) * SQRT({n_txt})) AS alignment_cosine
    FROM p)"""


def _alignment_drift_sql() -> str:
    return _numeric_drift_body_sql(
        _profile_cte(
            "ref", "TRUE", cols=["alignment_cosine"],
            src=_alignment_side_sql("vec_id % 2 = 0", 0.9, 0.1),
        ),
        _profile_cte(
            "curr", "TRUE", cols=["alignment_cosine"],
            src=_alignment_side_sql("vec_id % 2 = 1", 0.5, 0.5),
        ),
    )


def q_alignment_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cross-modal alignment drift (operators.multimodal.
    alignment_drift_grouped): the curr side's image mix degrades ONLY for
    even labels (0.9/0.1 → 0.5/0.5), so exactly those label rows must
    flag — WHICH shard broke, the question the corpus-level verdict
    leaves open. Weights are independent literals on both sides (never
    1-w, whose float residue would diverge between engines)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        alignment_drift_grouped,
    )

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )

    def side(parity: int, degrade: bool) -> DataFrame:
        if degrade:
            ws = F.when(F.col("label") % 2 == 0, F.lit(0.5)).otherwise(
                F.lit(0.9)
            )
            wr = F.when(F.col("label") % 2 == 0, F.lit(0.5)).otherwise(
                F.lit(0.1)
            )
        else:
            ws, wr = F.lit(0.9), F.lit(0.1)
        mixed = F.zip_with(
            F.col("e"), F.reverse(F.col("e")),
            lambda a, b: ws * a + wr * b,
        )
        return emb.filter(f"vec_id % 2 = {parity}").select(
            "label",
            F.col("e").alias("text_embedding"),
            mixed.alias("image_embedding"),
        )

    out = alignment_drift_grouped(
        side(0, False), side(1, True), by="label"
    )
    return _round_cols(
        out,
        [
            "ref_mean", "curr_mean", "mean_abs_diff",
            "ref_stddev", "curr_stddev", "stddev_abs_diff",
        ],
    )


def _alignment_grouped_sql(threshold: float = 0.05) -> str:
    dim = 64
    dot = _fold_sql([f"img[{i}] * t[{i}]" for i in range(1, dim + 1)])
    n_img = _fold_sql([f"img[{i}] * img[{i}]" for i in range(1, dim + 1)])
    n_txt = _fold_sql([f"t[{i}] * t[{i}]" for i in range(1, dim + 1)])
    return f"""
    WITH s AS (
      SELECT label, vec_id % 2 = 0 AS is_ref,
        CAST(embedding AS DOUBLE[]) AS t,
        CASE WHEN vec_id % 2 = 0 THEN 0.9
             WHEN label % 2 = 0 THEN 0.5 ELSE 0.9 END AS ws,
        CASE WHEN vec_id % 2 = 0 THEN 0.1
             WHEN label % 2 = 0 THEN 0.5 ELSE 0.1 END AS wr
      FROM embeddings),
    p AS (
      SELECT label, is_ref, t,
        list_transform(range(1, {dim + 1}),
          i -> ws * t[i] + wr * t[{dim + 1} - i]) AS img
      FROM s),
    g AS (
      SELECT label, is_ref,
        {dot} / (SQRT({n_img}) * SQRT({n_txt})) AS cos
      FROM p),
    rp AS (SELECT label, CAST(COUNT(cos) AS BIGINT) AS n,
             AVG(cos) AS m, STDDEV_SAMP(cos) AS sd
           FROM g WHERE is_ref GROUP BY 1),
    cp AS (SELECT label, CAST(COUNT(cos) AS BIGINT) AS n,
             AVG(cos) AS m, STDDEV_SAMP(cos) AS sd
           FROM g WHERE NOT is_ref GROUP BY 1)
    SELECT COALESCE(rp.label, cp.label) AS label,
      COALESCE(rp.n, 0) AS ref_n,
      COALESCE(cp.n, 0) AS curr_n,
      ROUND(rp.m, {ROUND}) AS ref_mean,
      ROUND(cp.m, {ROUND}) AS curr_mean,
      ROUND(abs(cp.m - rp.m), {ROUND}) AS mean_abs_diff,
      ROUND(rp.sd, {ROUND}) AS ref_stddev,
      ROUND(cp.sd, {ROUND}) AS curr_stddev,
      ROUND(abs(cp.sd - rp.sd), {ROUND}) AS stddev_abs_diff,
      COALESCE(ROUND(abs(cp.m - rp.m), 5) > {threshold!r}, TRUE)
        AS drift_detected
    FROM rp FULL OUTER JOIN cp
      ON rp.label IS NOT DISTINCT FROM cp.label"""


def q_alignment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal vet-the-increment (operators.multimodal.
    alignment_incremental): the vec_id%3==0 ingest batch of image/text
    pairs — its image mix degraded from the corpus's 0.9/0.1 to 0.7/0.3
    — vetted against the rolled-up additive alignment moments state
    (mergeable partitioned_profile shape); prior pairs never re-read.
    The mean-cosine drop must trip the absolute-diff flag."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        alignment_incremental,
        alignment_state,
    )

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )

    def pairs(pred: str, w_self: float, w_rev: float) -> DataFrame:
        mixed = F.zip_with(
            F.col("e"),
            F.reverse(F.col("e")),
            lambda a, b: F.lit(w_self) * a + F.lit(w_rev) * b,
        )
        return emb.filter(pred).select(
            F.col("e").alias("text_embedding"),
            mixed.alias("image_embedding"),
        )

    state = alignment_state(pairs("vec_id % 3 != 0", 0.9, 0.1))
    out = alignment_incremental(pairs("vec_id % 3 = 0", 0.7, 0.3), state)
    return _round_cols(
        out,
        [
            "ref_mean", "curr_mean", "mean_abs_diff",
            "ref_stddev", "curr_stddev", "stddev_abs_diff",
            "ref_null_ratio", "curr_null_ratio", "null_ratio_diff",
        ],
    )


def _alignment_incremental_sql(threshold: float = 0.05) -> str:
    # the moments replay mirrors mergeable.merge_profiles exactly,
    # including the greatest(0, ...) cancellation clamp in stddev
    def mom(side: str, src: str) -> str:
        return f"""{side} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(alignment_cosine) AS BIGINT) AS n,
        CAST(COUNT(*) - COUNT(alignment_cosine) AS BIGINT) AS nulls,
        SUM(alignment_cosine) AS s,
        SUM(alignment_cosine * alignment_cosine) AS ss
      FROM {src} AS __{side})"""

    std = (
        "CASE WHEN {p}.n > 1 THEN sqrt(GREATEST(0.0,"
        " ({p}.ss - {p}.s * {p}.s / {p}.n) / ({p}.n - 1))) END"
    )
    return f"""
    WITH {mom('r', _alignment_side_sql('vec_id % 3 <> 0', 0.9, 0.1))},
    {mom('c', _alignment_side_sql('vec_id % 3 = 0', 0.7, 0.3))}
    SELECT r.n AS ref_n, c.n AS curr_n,
      ROUND(r.s / r.n, {ROUND}) AS ref_mean,
      ROUND(c.s / c.n, {ROUND}) AS curr_mean,
      ROUND(abs(c.s / c.n - r.s / r.n), {ROUND}) AS mean_abs_diff,
      ROUND({std.format(p='r')}, {ROUND}) AS ref_stddev,
      ROUND({std.format(p='c')}, {ROUND}) AS curr_stddev,
      ROUND(abs({std.format(p='c')} - {std.format(p='r')}), {ROUND})
        AS stddev_abs_diff,
      ROUND(CAST(r.nulls AS DOUBLE) / r.n_rows, {ROUND}) AS ref_null_ratio,
      ROUND(CAST(c.nulls AS DOUBLE) / c.n_rows, {ROUND}) AS curr_null_ratio,
      ROUND(CAST(c.nulls AS DOUBLE) / c.n_rows
            - CAST(r.nulls AS DOUBLE) / r.n_rows, {ROUND})
        AS null_ratio_diff,
      coalesce(ROUND(abs(c.s / c.n - r.s / r.n), 5) > {threshold!r}, TRUE)
        OR coalesce(ROUND(abs(CAST(c.nulls AS DOUBLE) / c.n_rows
             - CAST(r.nulls AS DOUBLE) / r.n_rows), 5) > {threshold!r},
             FALSE) AS drift_detected
    FROM r CROSS JOIN c"""


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (operators.multimodal.image_neardup_pairs):
    synthetic PPM payloads for doc_id < 200 plus EXACT mirror copies
    (doc_id+4e6 re-using the original's pixel seed, the re-uploaded-image
    case) — aHash fingerprints through the same banded-Hamming blocking
    as text SimHash. The hash's block-luma bit test is integer-exact
    (cross-multiplied channel sums), so DuckDB replays every bit from the
    closed-form pixel formula; mirrors must land at hamming 0, and the
    pixel pattern's natural near-twins (seed pairs whose byte shift is
    tiny) surface at small distances."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        image_neardup_pairs,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    base = ids.selectExpr("doc_id", "doc_id AS seed")
    mirrors = ids.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 4000000 AS doc_id", "doc_id AS seed"
    )
    imgs = attach_synthetic_image(
        base.unionByName(mirrors), width=8, height=4, fmt="ppm",
        seed_col="seed",
    )
    out = image_neardup_pairs(imgs, grid=8, max_distance=3, bands=4)
    return out.selectExpr(
        "id1", "id2", "CAST(hamming AS BIGINT) AS hamming"
    )


def _image_neardup_sql(max_distance: int = 3) -> str:
    # replay: pixel v = (seed*31 + i*7) % 256 over the 8x4x3 array;
    # block b = (2y)*8 + x; vb = Rec601-weighted integer sum; the bit
    # test is the same cross-multiplied integer comparison as the
    # operator — bit-exact by construction
    return f"""
    WITH src AS (
      SELECT doc_id, doc_id AS seed FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 4000000, doc_id FROM documents
      WHERE doc_id < 200 AND doc_id % 5 = 0),
    px AS (
      SELECT s.doc_id,
        (s.seed * 31 + r.i * 7) % 256 AS v,
        r.i % 3 AS ch,
        ((r.i // 3) // 8) * 2 * 8 + ((r.i // 3) % 8) AS b
      FROM src s CROSS JOIN range(96) r(i)),
    blk AS (
      SELECT doc_id, b,
        SUM(CASE ch WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v
            ELSE 114 * v END) AS vb,
        COUNT(*) AS cb
      FROM px GROUP BY 1, 2),
    tot AS (
      SELECT doc_id, SUM(vb) AS s_tot, SUM(cb) AS c_tot
      FROM blk GROUP BY 1),
    sig AS (
      SELECT blk.doc_id,
        CAST(SUM(CASE WHEN vb * c_tot > s_tot * cb
                 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                 ELSE 0 END) AS BIGINT) AS h
      FROM blk JOIN tot USING (doc_id) GROUP BY 1),
    banded AS (
      SELECT doc_id, h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig CROSS JOIN range(4) r(i)
      WHERE h <> 0)
    SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
      CAST(bit_count(xor(a.h, c.h)) AS BIGINT) AS hamming
    FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key
    WHERE a.doc_id < c.doc_id
      AND bit_count(xor(a.h, c.h)) <= {max_distance}"""


def q_image_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image member of the vet-the-increment family (operators.multimodal.
    image_neardup_incremental): the doc_id%3==0 ingest batch of synthetic
    PPMs — plus re-uploads of PRIOR-corpus images (doc_id+4e6 re-using the
    successor's pixel seed, which lives in the state side) — blocked
    against the prior corpus's 8-byte aHash state; re-uploads must flag
    dup_of_state, prior payloads never re-read."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        image_ahash_state,
        image_neardup_incremental,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    prior = ids.filter("doc_id % 3 != 0").selectExpr("doc_id", "doc_id AS seed")
    batch_base = ids.filter("doc_id % 3 = 0").selectExpr(
        "doc_id", "doc_id AS seed"
    )
    succ = ids.selectExpr("doc_id - 1 AS doc_id")
    mirrors = (
        ids.filter("doc_id % 3 = 0")
        .join(succ, "doc_id", "left_semi")
        .selectExpr("doc_id + 4000000 AS doc_id", "doc_id + 1 AS seed")
    )
    mk = lambda src: attach_synthetic_image(
        src, width=8, height=4, fmt="ppm", seed_col="seed"
    )
    state = image_ahash_state(mk(prior))
    return image_neardup_incremental(
        mk(batch_base.unionByName(mirrors)), state,
        grid=8, max_distance=3, bands=4,
    )


def _ahash_chain_sql(prefix: str, src: str) -> str:
    """CTE chain computing the integer-exact aHash for every (doc_id,
    seed) row of ``src`` — ends in ``sig_{prefix}(doc_id, h)``. Same
    closed form as _image_neardup_sql."""
    p = prefix
    return f"""px_{p} AS (
      SELECT s.doc_id,
        (s.seed * 31 + r.i * 7) % 256 AS v,
        r.i % 3 AS ch,
        ((r.i // 3) // 8) * 2 * 8 + ((r.i // 3) % 8) AS b
      FROM {src} s CROSS JOIN range(96) r(i)),
    blk_{p} AS (
      SELECT doc_id, b,
        SUM(CASE ch WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v
            ELSE 114 * v END) AS vb,
        COUNT(*) AS cb
      FROM px_{p} GROUP BY 1, 2),
    tot_{p} AS (
      SELECT doc_id, SUM(vb) AS s_tot, SUM(cb) AS c_tot
      FROM blk_{p} GROUP BY 1),
    sig_{p} AS (
      SELECT blk_{p}.doc_id,
        CAST(SUM(CASE WHEN vb * c_tot > s_tot * cb
                 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                 ELSE 0 END) AS BIGINT) AS h
      FROM blk_{p} JOIN tot_{p} USING (doc_id) GROUP BY 1)"""


def _image_incremental_sql(max_distance: int = 3) -> str:
    return f"""
    WITH prior_src AS (
      SELECT doc_id, doc_id AS seed FROM documents
      WHERE doc_id < 200 AND doc_id % 3 <> 0),
    batch_src AS (
      SELECT doc_id, doc_id AS seed FROM documents
      WHERE doc_id < 200 AND doc_id % 3 = 0
      UNION ALL
      SELECT d.doc_id + 4000000, d.doc_id + 1 FROM documents d
      WHERE d.doc_id < 200 AND d.doc_id % 3 = 0
        AND EXISTS (SELECT 1 FROM documents e
                    WHERE e.doc_id = d.doc_id + 1 AND e.doc_id < 200)),
    {_ahash_chain_sql('p', 'prior_src')},
    {_ahash_chain_sql('b', 'batch_src')},
    pb AS (
      SELECT doc_id, h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig_b CROSS JOIN range(4) r(i)
      WHERE h <> 0),
    sb AS (
      SELECT h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig_p CROSS JOIN range(4) r(i)
      WHERE h <> 0),
    state_hits AS (
      SELECT DISTINCT b.doc_id FROM pb b JOIN sb s
        ON b.band = s.band AND b.key = s.key
      WHERE bit_count(xor(b.h, s.h)) <= {max_distance}),
    batch_hits AS (
      SELECT DISTINCT c.doc_id FROM pb c JOIN pb e
        ON c.band = e.band AND c.key = e.key
      WHERE e.doc_id < c.doc_id
        AND bit_count(xor(c.h, e.h)) <= {max_distance})
    SELECT b.doc_id,
      s.doc_id IS NOT NULL AS dup_of_state,
      h.doc_id IS NOT NULL AS dup_in_batch,
      s.doc_id IS NULL AND h.doc_id IS NULL AS keep
    FROM sig_b b
    LEFT JOIN state_hits s ON s.doc_id = b.doc_id
    LEFT JOIN batch_hits h ON h.doc_id = b.doc_id"""


def q_wav_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-corpus WAV format zoo (operators.multimodal._parse_wav):
    doc_id % 5 cycles mono PCM16, unsigned PCM8, G.711 u-law, G.711
    A-law, and STEREO PCM16 (exact floor-mean downmix) — all decoded by
    the same RIFF chunk walk into the waveform panel. The oracle
    replays every variant from the seed closed form, including the
    G.711 expansions as pure integer bit math — wrong companding
    tables, offset-128 handling, or downmix rounding would diverge."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio_variants,
        decode_audio,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 120")
    out = decode_audio(attach_synthetic_audio_variants(ids))
    return _round_cols(
        out.select(
            "doc_id", "n_bytes", "sample_rate", "n_samples", "duration_ms",
            "rms", "peak", "zero_cross_rate", "clip_ratio",
        ),
        ["duration_ms", "rms", "zero_cross_rate", "clip_ratio"],
    )


def _wav_formats_sql(n: int = 256, rate: int = 16000) -> str:
    # G.711 expansions as integer bit math (ITU formulas): u-law
    # complements the byte, A-law toggles even bits with 0x55
    return f"""
    WITH docs AS (
      SELECT doc_id FROM documents WHERE doc_id < 120),
    s0 AS (
      SELECT d.doc_id, r.i,
        CAST((d.doc_id * 37 + r.i * 11) % 4001 - 2000 AS BIGINT) AS s
      FROM docs d CROSS JOIN range({n}) r(i) WHERE d.doc_id % 5 = 0),
    s1 AS (
      SELECT d.doc_id, r.i,
        CAST((((d.doc_id * 37 + r.i * 11) % 256) - 128) * 256 AS BIGINT) AS s
      FROM docs d CROSS JOIN range({n}) r(i) WHERE d.doc_id % 5 = 1),
    bu AS (
      SELECT d.doc_id, r.i, (d.doc_id * 37 + r.i * 11) % 256 AS b,
        d.doc_id % 5 AS v
      FROM docs d CROSS JOIN range({n}) r(i) WHERE d.doc_id % 5 IN (2, 3)),
    s2 AS (
      SELECT doc_id, i,
        CAST(CASE WHEN ((255 - b) & 128) > 0 THEN 132 - t
             ELSE t - 132 END AS BIGINT) AS s
      FROM (SELECT doc_id, i, b,
              ((((255 - b) & 15) * 8) + 132)
                * (CAST(1 AS BIGINT) << CAST(((255 - b) >> 4) & 7 AS INT))
                AS t
            FROM bu WHERE v = 2)),
    s3 AS (
      SELECT doc_id, i,
        CAST(CASE WHEN (a & 128) > 0 THEN t ELSE -t END AS BIGINT) AS s
      FROM (SELECT doc_id, i, a,
              CASE (a & 112) // 16
                WHEN 0 THEN (a & 15) * 16 + 8
                WHEN 1 THEN (a & 15) * 16 + 264
                ELSE ((a & 15) * 16 + 264)
                  * (CAST(1 AS BIGINT)
                     << CAST((a & 112) // 16 - 1 AS INT))
              END AS t
            FROM (SELECT doc_id, i, xor(b, 85) AS a FROM bu WHERE v = 3))),
    s4 AS (
      SELECT d.doc_id, r.i,
        CAST(floor((
          (d.doc_id * 37 + (2 * r.i) * 11) % 4001 - 2000
          + (d.doc_id * 37 + (2 * r.i + 1) * 11) % 4001 - 2000
        ) / 2.0) AS BIGINT) AS s
      FROM docs d CROSS JOIN range({n}) r(i) WHERE d.doc_id % 5 = 4),
    samples AS (
      SELECT * FROM s0 UNION ALL SELECT * FROM s1
      UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
      UNION ALL SELECT * FROM s4),
    st AS (
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS ns,
        SQRT(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)) AS rms,
        CAST(MAX(ABS(s)) AS INT) AS peak,
        CAST(SUM(CASE WHEN ABS(s) >= 32767 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS clip
      FROM samples GROUP BY 1),
    zc AS (
      SELECT doc_id,
        SUM(CASE WHEN sign(s) * sign(prev) < 0 THEN 1 ELSE 0 END) AS z
      FROM (SELECT doc_id, s,
              LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM samples)
      GROUP BY 1)
    SELECT st.doc_id,
      CAST(CASE st.doc_id % 5 WHEN 0 THEN {44 + 2 * n}
           WHEN 4 THEN {44 + 4 * n} ELSE {44 + n} END AS BIGINT) AS n_bytes,
      CAST({rate} AS INT) AS sample_rate,
      ns AS n_samples,
      ROUND(1000.0 * ns / {rate}, {ROUND}) AS duration_ms,
      ROUND(rms, {ROUND}) AS rms,
      peak,
      ROUND(CAST(z AS DOUBLE) / (ns - 1), {ROUND}) AS zero_cross_rate,
      ROUND(clip, {ROUND}) AS clip_ratio
    FROM st JOIN zc USING (doc_id)"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode (operators.multimodal.decode_audio): synthetic
    RIFF/PCM payloads per document, parsed by the actual chunk-walk
    parser, reduced to the waveform health panel (duration, rms, peak,
    zero-cross rate, clip ratio). The sample closed form replays in
    DuckDB — including the zero-cross count via the closed-form
    previous sample, no parser needed."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        decode_audio,
    )

    ids = _documents(spark, sf_dir).select("doc_id")
    out = decode_audio(attach_synthetic_audio(ids, n_samples=256))
    return _round_cols(
        out.select(
            "doc_id", "n_bytes", "sample_rate", "n_samples",
            "duration_ms", "rms", "peak", "zero_cross_rate", "clip_ratio",
        ),
        ["duration_ms", "rms", "zero_cross_rate", "clip_ratio"],
    )


def _audio_feats_sql(n: int = 256, rate: int = 16000) -> str:
    # s[i] = ((doc_id*37 + i*11) % 4001) - 2000; the zero-cross count
    # uses the CLOSED-FORM previous sample (i-1), so no window is needed
    return f"""
    WITH sm AS (
      SELECT d.doc_id, r.i,
        (d.doc_id * 37 + r.i * 11) % 4001 - 2000 AS s,
        CASE WHEN r.i > 0
             THEN (d.doc_id * 37 + (r.i - 1) * 11) % 4001 - 2000 END AS sp
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN range({n}) r(i)),
    agg AS (
      SELECT doc_id,
        SUM(s * s) AS ss,
        MAX(ABS(s)) AS peak,
        SUM(CASE WHEN sp IS NOT NULL AND sign(s) * sign(sp) < 0
            THEN 1 ELSE 0 END) AS zc,
        SUM(CASE WHEN ABS(s) >= 32767 THEN 1 ELSE 0 END) AS clip
      FROM sm GROUP BY 1)
    SELECT doc_id,
      CAST({44 + 2 * n} AS BIGINT) AS n_bytes,
      CAST({rate} AS INT) AS sample_rate,
      CAST({n} AS BIGINT) AS n_samples,
      ROUND(1000.0 * {n} / {rate}, {ROUND}) AS duration_ms,
      ROUND(SQRT(CAST(ss AS DOUBLE) / {n}), {ROUND}) AS rms,
      CAST(peak AS INT) AS peak,
      ROUND(CAST(zc AS DOUBLE) / {n - 1}, {ROUND}) AS zero_cross_rate,
      ROUND(CAST(clip AS DOUBLE) / {n}, {ROUND}) AS clip_ratio
    FROM agg"""


def q_audio_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio drift closed end-to-end (the image_feature_drift twin):
    even-doc payloads at 256 samples vs odd-doc at 320 (the "resample
    config changed" incident), decoded features through the SAME
    weighted numeric-drift scorer — duration drifts hard, waveform
    statistics shift subtly with the seed parity."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        decode_audio,
    )
    from pyspark_data_drift_detector_spark.operators.numeric_drift import (
        numeric_drift_pair,
    )

    ids = _documents(spark, sf_dir).select("doc_id")
    feat_cols = ["duration_ms", "rms", "peak", "zero_cross_rate"]

    def feats(parity: int, n: int) -> DataFrame:
        payload = attach_synthetic_audio(
            ids.filter(f"doc_id % 2 = {parity}"), n_samples=n
        )
        return decode_audio(payload).selectExpr(
            "duration_ms",
            "rms",
            "CAST(peak AS DOUBLE) AS peak",
            "zero_cross_rate",
        )

    drift = numeric_drift_pair(
        feats(0, 256), feats(1, 320), columns=feat_cols,
        quantiles=(0.25, 0.5, 0.75),
    )
    rounded = [
        "mean_relative_diff", "median_relative_diff",
        "std_dev_relative_diff", "iqr_relative_diff",
        "range_relative_diff", "null_diff", "drift_score",
    ]
    return _round_cols(
        drift.select("column_name", *rounded, "drift_detected"), rounded
    )


def _audio_side_sql(parity: int, n: int, rate: int = 16000) -> str:
    """FROM-able subquery: one side's per-doc audio features."""
    return f"""(WITH sm AS (
      SELECT d.doc_id, r.i,
        (d.doc_id * 37 + r.i * 11) % 4001 - 2000 AS s,
        CASE WHEN r.i > 0
             THEN (d.doc_id * 37 + (r.i - 1) * 11) % 4001 - 2000 END AS sp
      FROM (SELECT DISTINCT doc_id FROM documents
            WHERE doc_id % 2 = {parity}) d
      CROSS JOIN range({n}) r(i))
    SELECT doc_id,
      1000.0 * {n} / {rate} AS duration_ms,
      SQRT(CAST(SUM(s * s) AS DOUBLE) / {n}) AS rms,
      CAST(MAX(ABS(s)) AS DOUBLE) AS peak,
      CAST(SUM(CASE WHEN sp IS NOT NULL AND sign(s) * sign(sp) < 0
               THEN 1 ELSE 0 END) AS DOUBLE) / {n - 1} AS zero_cross_rate
    FROM sm GROUP BY 1)"""


def _audio_feature_drift_sql() -> str:
    feat_cols = ["duration_ms", "rms", "peak", "zero_cross_rate"]
    return _numeric_drift_body_sql(
        _profile_cte(
            "ref", "TRUE", cols=feat_cols, src=_audio_side_sql(0, 256),
        ),
        _profile_cte(
            "curr", "TRUE", cols=feat_cols, src=_audio_side_sql(1, 320),
        ),
    )


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint dedup (operators.multimodal.audio_neardup_pairs):
    synthetic WAVs for doc_id < 200 plus exact re-uploads (doc_id+4e6
    re-using the original's sample seed) — energy-profile aHash through
    the shared banded-Hamming blocking; the integer-exact bit test
    replays in DuckDB from the closed-form samples, re-uploads land at
    hamming 0."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        audio_neardup_pairs,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    base = ids.selectExpr("doc_id", "doc_id AS seed")
    mirrors = ids.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 4000000 AS doc_id", "doc_id AS seed"
    )
    wavs = attach_synthetic_audio(
        base.unionByName(mirrors), n_samples=256, seed_col="seed"
    )
    out = audio_neardup_pairs(wavs, grid=64, max_distance=3, bands=4)
    return out.selectExpr(
        "id1", "id2", "CAST(hamming AS BIGINT) AS hamming"
    )


def _audio_neardup_sql(max_distance: int = 3) -> str:
    # n=256 samples, grid 64 -> 4-sample segments (c_j = 4 exactly);
    # segment j = i * 64 // 256 = i // 4
    return f"""
    WITH src AS (
      SELECT doc_id, doc_id AS seed FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 4000000, doc_id FROM documents
      WHERE doc_id < 200 AND doc_id % 5 = 0),
    sm AS (
      SELECT s.doc_id,
        (s.seed * 37 + r.i * 11) % 4001 - 2000 AS v,
        r.i // 4 AS j
      FROM src s CROSS JOIN range(256) r(i)),
    seg AS (
      SELECT doc_id, j, SUM(v * v) AS e, COUNT(*) AS c
      FROM sm GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(e) AS e_tot, SUM(c) AS n_tot
            FROM seg GROUP BY 1),
    sig AS (
      -- bit 63 IS the sign bit: DuckDB raises on 1::BIGINT << 63, so it
      -- contributes the overflow-free two-literal long-min (disjoint
      -- bits make the signed sum equal the two's-complement pack)
      SELECT seg.doc_id,
        CAST(SUM(CASE WHEN e * n_tot <= e_tot * c THEN 0
                 WHEN j = 63 THEN -9223372036854775807 - 1
                 ELSE CAST(1 AS BIGINT) << CAST(j AS INT)
                 END) AS BIGINT) AS h
      FROM seg JOIN tot USING (doc_id) GROUP BY 1),
    banded AS (
      SELECT doc_id, h, r.i AS band,
        ((h >> (r.i * 16)) & 65535) AS key
      FROM sig CROSS JOIN range(4) r(i)
      WHERE h <> 0)
    SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
      CAST(bit_count(xor(a.h, c.h)) AS BIGINT) AS hamming
    FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key
    WHERE a.doc_id < c.doc_id
      AND bit_count(xor(a.h, c.h)) <= {max_distance}"""


_MJPEG_DECODE_ROWS = [
    (0, 4502, 16, 8, 25.0, 6, 240.0, 132.95964, 3, 10.6125),
    (1, 4480, 16, 8, 25.0, 6, 240.0, 134.36068, 4, 13.475),
    (2, 4540, 16, 8, 25.0, 6, 240.0, 134.30599, 5, 15.72188),
    (3, 4532, 16, 8, 25.0, 6, 240.0, 133.6862, 5, 15.51875),
    (4, 4590, 16, 8, 25.0, 6, 240.0, 132.3112, 5, 16.16875),
    (5, 4484, 16, 8, 25.0, 6, 240.0, 130.72917, 4, 16.55781),
    (6, 4570, 16, 8, 25.0, 6, 240.0, 129.02474, 3, 15.82813),
    (7, 4530, 16, 8, 25.0, 6, 240.0, 127.69271, 4, 14.59219),
    (8, 4528, 16, 8, 25.0, 6, 240.0, 125.64323, 4, 13.51875),
    (9, 4562, 16, 8, 25.0, 6, 240.0, 123.34766, 3, 10.99375),
    (10, 4534, 16, 8, 25.0, 6, 240.0, 121.96484, 3, 10.55313),
    (11, 4526, 16, 8, 25.0, 6, 240.0, 120.66536, 4, 12.94531),
    (12, 4464, 16, 8, 25.0, 6, 240.0, 120.64714, 5, 15.47031),
    (13, 4488, 16, 8, 25.0, 6, 240.0, 121.66276, 5, 16.60625),
    (14, 4484, 16, 8, 25.0, 6, 240.0, 123.01172, 5, 15.55781),
    (15, 4464, 16, 8, 25.0, 6, 240.0, 124.30859, 4, 16.4875),
    (16, 4504, 16, 8, 25.0, 6, 240.0, 126.33854, 4, 16.19375),
    (17, 4498, 16, 8, 25.0, 6, 240.0, 127.65495, 4, 13.84844),
    (18, 4478, 16, 8, 25.0, 6, 240.0, 129.72396, 4, 13.04688),
    (19, 4508, 16, 8, 25.0, 6, 240.0, 131.98438, 3, 11.49219),
    (20, 4522, 16, 8, 25.0, 6, 240.0, 133.38151, 3, 11.02813),
    (21, 4474, 16, 8, 25.0, 6, 240.0, 134.28385, 4, 14.54063),
    (22, 4538, 16, 8, 25.0, 6, 240.0, 134.36198, 5, 14.94219),
    (23, 4554, 16, 8, 25.0, 6, 240.0, 133.26302, 5, 16.20156),
    (24, 4506, 16, 8, 25.0, 6, 240.0, 131.66276, 4, 16.56875),
    (25, 4538, 16, 8, 25.0, 6, 240.0, 130.34766, 4, 15.82031),
    (26, 4540, 16, 8, 25.0, 6, 240.0, 128.69922, 4, 14.95156),
    (27, 4544, 16, 8, 25.0, 6, 240.0, 126.99219, 4, 14.34063),
    (28, 4522, 16, 8, 25.0, 6, 240.0, 124.72005, 4, 11.73281),
    (29, 4556, 16, 8, 25.0, 6, 240.0, 122.96745, 4, 11.38594),
    (30, 4532, 16, 8, 25.0, 6, 240.0, 121.34115, 3, 11.36875),
    (31, 4480, 16, 8, 25.0, 6, 240.0, 120.67318, 4, 14.31094),
    (32, 4502, 16, 8, 25.0, 6, 240.0, 120.65104, 5, 16.65625),
    (33, 4464, 16, 8, 25.0, 6, 240.0, 122.02995, 5, 15.33594),
    (34, 4486, 16, 8, 25.0, 6, 240.0, 123.29948, 4, 16.12813),
    (35, 4440, 16, 8, 25.0, 6, 240.0, 125.05208, 4, 17.77969),
    (36, 4526, 16, 8, 25.0, 6, 240.0, 126.64974, 4, 14.16875),
    (37, 4414, 16, 8, 25.0, 6, 240.0, 128.05859, 4, 14.69844),
    (38, 4470, 16, 8, 25.0, 6, 240.0, 130.63151, 4, 12.2375),
    (39, 4502, 16, 8, 25.0, 6, 240.0, 132.35677, 4, 10.17656),
]


def _mjpeg_decode_sql() -> str:
    """Precomputed-oracle table for q_mjpeg_decode (see
    tools/gen_mjpeg_oracle.py): MJPEG frames are lossy JPEG, so the
    oracle pins the deterministic decoder output like jpeg_decode."""
    vals = []
    for d, n, w, h, fps, nf, dur, lm, cuts, mo in _MJPEG_DECODE_ROWS:
        vals.append(
            f"({d}, CAST({n} AS BIGINT), {w}, {h},"
            f" CAST({fps!r} AS DOUBLE), CAST({nf} AS BIGINT),"
            f" CAST({dur!r} AS DOUBLE), CAST({lm!r} AS DOUBLE),"
            f" CAST({cuts} AS BIGINT), CAST({mo!r} AS DOUBLE))"
        )
    body = ",\n      ".join(vals)
    return f"""
    SELECT t.* FROM (VALUES
      {body})
      AS t(doc_id, n_bytes, width, height, fps, n_frames, duration_ms,
           luma_mean, scene_cuts, motion)
    WHERE t.doc_id IN (SELECT doc_id FROM documents WHERE doc_id < 40)"""


def q_mjpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED video decode: a genuine Motion-JPEG AVI is built per
    doc_id < 40 (attach_synthetic_video(container='avi') — a real RIFF
    hdrl/movi layout with each frame through the pure-NumPy JPEG
    encoder) and parsed back by the RIFF walk + Huffman+IDCT decoder
    inside decode_video — same temporal panel as the y4m path, on exact
    Rec. 601 luma masses (scale 1000). Lossy frames mean no SQL closed
    form; the oracle pins a precomputed table of the deterministic
    output (regenerate with tools/gen_mjpeg_oracle.py)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_video,
        decode_video,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 40")
    vids = attach_synthetic_video(
        ids, width=16, height=8, n_frames=6, cut_every=3, container="avi"
    )
    out = decode_video(vids, cut_threshold=8)
    return _round_cols(
        out.select(
            "doc_id", "n_bytes", "width", "height", "fps", "n_frames",
            "duration_ms", "luma_mean", "scene_cuts", "motion",
        ),
        ["fps", "duration_ms", "luma_mean", "motion"],
    )


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL y4m video decode (operators.multimodal.decode_video): 8-frame
    4:2:0 streams per document (every 4th frame carries a +96 luma jump —
    the scene-cut fixture), parsed by the actual YUV4MPEG2 grammar and
    reduced to the temporal panel: luma mean, integer-exact scene-cut
    count, motion proxy. The oracle recomputes every frame's exact luma
    sum from the closed form — no parser needed."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_video,
        decode_video,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 500")
    vids = attach_synthetic_video(
        ids, width=16, height=8, n_frames=8, cut_every=4
    )
    out = decode_video(vids, cut_threshold=8)
    return _round_cols(
        out.select(
            "doc_id", "n_bytes", "width", "height", "fps", "n_frames",
            "duration_ms", "luma_mean", "scene_cuts", "motion",
        ),
        ["fps", "duration_ms", "luma_mean", "motion"],
    )


def _video_features_sql(
    w: int = 16, h: int = 8, nf: int = 8, cut_every: int = 4,
    fps: float = 25.0, thr: int = 8,
) -> str:
    npix = w * h
    # payload size: header (len varies with W/H digits) + per frame
    # "FRAME\n" + luma + chroma; header text mirrors encode_y4m exactly
    header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n"
    frame_bytes = 6 + npix + (w // 2) * (h // 2) * 2
    n_bytes = len(header) + nf * frame_bytes
    return f"""
    WITH fs AS (
      SELECT d.doc_id, f.f,
        SUM((d.doc_id * 13 + f.f * 29 + r.i * 3 +
             CASE WHEN {cut_every} > 0 AND f.f % {cut_every} = 0
                  THEN 96 ELSE 0 END) % 256) AS s
      FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 500) d
      CROSS JOIN range({nf}) f(f)
      CROSS JOIN range({npix}) r(i)
      GROUP BY 1, 2),
    dl AS (
      SELECT doc_id, f, s,
        ABS(s - LAG(s) OVER (PARTITION BY doc_id ORDER BY f)) AS d
      FROM fs)
    SELECT doc_id,
      CAST({n_bytes} AS BIGINT) AS n_bytes,
      CAST({w} AS INT) AS width,
      CAST({h} AS INT) AS height,
      CAST({fps!r} AS DOUBLE) AS fps,
      CAST({nf} AS BIGINT) AS n_frames,
      ROUND(1000.0 * {nf} / {fps!r}, {ROUND}) AS duration_ms,
      ROUND(CAST(SUM(s) AS DOUBLE) / {npix * nf}, {ROUND}) AS luma_mean,
      CAST(SUM(CASE WHEN d > {thr * npix} THEN 1 ELSE 0 END) AS BIGINT)
        AS scene_cuts,
      ROUND(CAST(SUM(COALESCE(d, 0)) AS DOUBLE) / {npix * (nf - 1)},
            {ROUND}) AS motion
    FROM dl GROUP BY 1"""


def q_video_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video drift closed end-to-end (the image/audio twin): even-doc
    clips cut every 4 frames vs odd-doc clips cut every 2 (the "editing
    style changed" incident — e.g. a new source of fast-cut shorts),
    decoded temporal features through the SAME weighted numeric-drift
    scorer; scene_cuts and motion drift hard, exposure shifts subtly."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_video,
        decode_video,
    )
    from pyspark_data_drift_detector_spark.operators.numeric_drift import (
        numeric_drift_pair,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 500")
    feat_cols = ["luma_mean", "scene_cuts", "motion"]

    def feats(parity: int, cut_every: int) -> DataFrame:
        vids = attach_synthetic_video(
            ids.filter(f"doc_id % 2 = {parity}"), width=16, height=8,
            n_frames=8, cut_every=cut_every,
        )
        return decode_video(vids, cut_threshold=8).selectExpr(
            "luma_mean", "CAST(scene_cuts AS DOUBLE) AS scene_cuts",
            "motion",
        )

    drift = numeric_drift_pair(
        feats(0, 4), feats(1, 2), columns=feat_cols,
        quantiles=(0.25, 0.5, 0.75),
    )
    rounded = [
        "mean_relative_diff", "median_relative_diff",
        "std_dev_relative_diff", "iqr_relative_diff",
        "range_relative_diff", "null_diff", "drift_score",
    ]
    return _round_cols(
        drift.select("column_name", *rounded, "drift_detected"), rounded
    )


def _video_side_sql(
    parity: int, cut_every: int, w: int = 16, h: int = 8, nf: int = 8,
    thr: int = 8,
) -> str:
    """FROM-able subquery: one side's per-doc video temporal features."""
    npix = w * h
    return f"""(WITH fs AS (
      SELECT d.doc_id, f.f,
        SUM((d.doc_id * 13 + f.f * 29 + r.i * 3 +
             CASE WHEN f.f % {cut_every} = 0 THEN 96 ELSE 0 END)
            % 256) AS s
      FROM (SELECT DISTINCT doc_id FROM documents
            WHERE doc_id < 500 AND doc_id % 2 = {parity}) d
      CROSS JOIN range({nf}) f(f)
      CROSS JOIN range({npix}) r(i)
      GROUP BY 1, 2),
    dl AS (
      SELECT doc_id, s,
        ABS(s - LAG(s) OVER (PARTITION BY doc_id ORDER BY f)) AS d
      FROM fs)
    SELECT doc_id,
      CAST(SUM(s) AS DOUBLE) / {npix * nf} AS luma_mean,
      CAST(SUM(CASE WHEN d > {thr * npix} THEN 1 ELSE 0 END) AS DOUBLE)
        AS scene_cuts,
      CAST(SUM(COALESCE(d, 0)) AS DOUBLE) / {npix * (nf - 1)} AS motion
    FROM dl GROUP BY 1)"""


def _video_feature_drift_sql() -> str:
    feat_cols = ["luma_mean", "scene_cuts", "motion"]
    return _numeric_drift_body_sql(
        _profile_cte(
            "ref", "TRUE", cols=feat_cols, src=_video_side_sql(0, 4),
        ),
        _profile_cte(
            "curr", "TRUE", cols=feat_cols, src=_video_side_sql(1, 2),
        ),
    )


def q_multimodal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal intake flagship (operators.multimodal.
    multimodal_intake_report): a doc_id < 40 ingest batch per modality
    plus explicit re-uploads (doc_id%4==0 mirrored at doc_id+1000 with
    the ORIGINAL's seed) and every doc_id%10==3 payload corrupted to
    junk, vetted against a 20-clip fingerprint state whose seeds overlap
    the batch's 20..39 range — ONE long-format health panel (volume,
    decode-error rate, per-modality content stats, and the r13
    ``neardup_rate``: the share of the batch whose fingerprint already
    exists in the state or earlier in the batch, at max_distance 0 so
    DuckDB replays the dup test by hash equality). Every value replayed
    from the three closed forms."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        attach_synthetic_image,
        attach_synthetic_video,
        audio_ahash_state,
        image_ahash_state,
        multimodal_intake_report,
        video_ahash_state,
    )

    docs = _documents(spark, sf_dir).select("doc_id")
    ids = docs.filter("doc_id < 40")
    batch_src = ids.selectExpr("doc_id", "doc_id AS seed").unionByName(
        ids.filter("doc_id % 4 = 0").selectExpr(
            "doc_id + 1000 AS doc_id", "doc_id AS seed"
        )
    )
    state_src = docs.filter("doc_id >= 40 AND doc_id < 60").selectExpr(
        "doc_id", "doc_id - 20 AS seed"
    )

    def corrupt(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "payload",
            F.when(F.col("doc_id") % 10 == 3, F.lit(b"junk")).otherwise(
                F.col("payload")
            ),
        )

    mk_img = lambda src: attach_synthetic_image(
        src, width=8, height=4, fmt="ppm", seed_col="seed"
    )
    mk_aud = lambda src: attach_synthetic_audio(
        src, n_samples=256, seed_col="seed"
    )
    mk_vid = lambda src: attach_synthetic_video(
        src, width=16, height=8, n_frames=8, cut_every=4, seed_col="seed"
    )
    exact = {"max_distance": 0}
    out = multimodal_intake_report(
        corrupt(mk_img(batch_src)),
        corrupt(mk_aud(batch_src)),
        corrupt(mk_vid(batch_src)),
        image_state=image_ahash_state(mk_img(state_src)),
        audio_state=audio_ahash_state(mk_aud(state_src)),
        video_state=video_ahash_state(mk_vid(state_src)),
        image_opts=exact, audio_opts=exact, video_opts=exact,
    )
    return _round_cols(out, ["value"])


def _multimodal_report_sql() -> str:
    # batch = doc_id < 40 plus +1000 re-upload mirrors of doc_id%4==0
    # (mirror ids are never % 10 = 3, so corruption hits base docs only);
    # clean = decodable payloads; state seeds 20..39 overlap the batch
    batch = """
      SELECT doc_id, doc_id AS seed FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 1000, doc_id FROM documents
      WHERE doc_id < 40 AND doc_id % 4 = 0"""
    clean = f"SELECT * FROM ({batch}) WHERE doc_id % 10 <> 3"
    state = """
      SELECT doc_id, doc_id - 20 AS seed FROM documents
      WHERE doc_id >= 40 AND doc_id < 60"""
    counts = f"""
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS DOUBLE)
          AS errs
      FROM ({batch})"""
    # exact-match (max_distance 0) dup share: batch fingerprints equal to
    # a state fingerprint or an earlier-id batch fingerprint; flat (0)
    # hashes never match — same guard as the operator
    dup = """
      SELECT CAST((SELECT COUNT(*) FROM sig_{b} x
        WHERE x.h <> 0 AND (
          EXISTS (SELECT 1 FROM sig_{p} p WHERE p.h = x.h)
          OR EXISTS (SELECT 1 FROM sig_{b} e
                     WHERE e.doc_id < x.doc_id AND e.h = x.h)))
        AS DOUBLE) / (SELECT n FROM cnt) AS rate"""
    return f"""
    WITH cnt AS ({counts}),
    cb AS ({clean}),
    st AS ({state}),
    ipx AS (
      SELECT d.doc_id, CAST((d.seed * 31 + r.i * 7) % 256 AS DOUBLE) AS v,
        r.i % 3 AS ch, r.i // 3 AS pix
      FROM cb d CROSS JOIN range(96) r(i)),
    ilp AS (
      SELECT doc_id, pix,
        SUM(v * CASE ch WHEN 0 THEN 0.299 WHEN 1 THEN 0.587
                 ELSE 0.114 END) AS luma
      FROM ipx GROUP BY 1, 2),
    idoc AS (SELECT doc_id, AVG(luma) AS lm FROM ilp GROUP BY 1),
    img AS (SELECT AVG(lm) AS luma_avg FROM idoc),
    asm AS (
      SELECT d.doc_id, (d.seed * 37 + r.i * 11) % 4001 - 2000 AS s
      FROM cb d CROSS JOIN range(256) r(i)),
    adoc AS (
      SELECT doc_id, SQRT(CAST(SUM(s * s) AS DOUBLE) / 256) AS rms
      FROM asm GROUP BY 1),
    aud AS (SELECT AVG(rms) AS rms_avg FROM adoc),
    vfs AS (
      SELECT d.doc_id, f.f,
        SUM((d.seed * 13 + f.f * 29 + r.i * 3 +
             CASE WHEN f.f % 4 = 0 THEN 96 ELSE 0 END) % 256) AS s
      FROM cb d
      CROSS JOIN range(8) f(f) CROSS JOIN range(128) r(i)
      GROUP BY 1, 2),
    vdl AS (
      SELECT doc_id, s,
        ABS(s - LAG(s) OVER (PARTITION BY doc_id ORDER BY f)) AS dd
      FROM vfs),
    vdoc AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN dd > {8 * 128} THEN 1 ELSE 0 END) AS DOUBLE)
          AS cuts,
        CAST(SUM(COALESCE(dd, 0)) AS DOUBLE) / {128 * 7} AS motion
      FROM vdl GROUP BY 1),
    vid AS (SELECT AVG(cuts) AS cuts_avg, AVG(motion) AS motion_avg
            FROM vdoc),
    {_ahash_chain_sql('ib', 'cb')},
    {_ahash_chain_sql('ip', 'st')},
    {_audio_sig_chain_sql('ab', 'cb')},
    {_audio_sig_chain_sql('ap', 'st')},
    {_video_sig_chain_sql('vb', 'cb', nf=8)},
    {_video_sig_chain_sql('vp', 'st', nf=8)},
    img_dup AS ({dup.format(b='ib', p='ip')}),
    aud_dup AS ({dup.format(b='ab', p='ap')}),
    vid_dup AS ({dup.format(b='vb', p='vp')})
    SELECT 'image' AS modality, 'n_payloads' AS metric,
           ROUND(n, {ROUND}) AS value FROM cnt
    UNION ALL SELECT 'image', 'decode_error_rate', ROUND(errs / n, {ROUND})
      FROM cnt
    UNION ALL SELECT 'image', 'luma_mean_avg', ROUND(luma_avg, {ROUND})
      FROM img
    UNION ALL SELECT 'image', 'width_avg', CAST(8.0 AS DOUBLE) FROM cnt
    UNION ALL SELECT 'audio', 'n_payloads', ROUND(n, {ROUND}) FROM cnt
    UNION ALL SELECT 'audio', 'decode_error_rate', ROUND(errs / n, {ROUND})
      FROM cnt
    UNION ALL SELECT 'audio', 'rms_avg', ROUND(rms_avg, {ROUND}) FROM aud
    UNION ALL SELECT 'audio', 'duration_ms_avg', CAST(16.0 AS DOUBLE)
      FROM cnt
    UNION ALL SELECT 'video', 'n_payloads', ROUND(n, {ROUND}) FROM cnt
    UNION ALL SELECT 'video', 'decode_error_rate', ROUND(errs / n, {ROUND})
      FROM cnt
    UNION ALL SELECT 'video', 'scene_cuts_avg', ROUND(cuts_avg, {ROUND})
      FROM vid
    UNION ALL SELECT 'video', 'motion_avg', ROUND(motion_avg, {ROUND})
      FROM vid
    UNION ALL SELECT 'image', 'neardup_rate', ROUND(rate, {ROUND})
      FROM img_dup
    UNION ALL SELECT 'audio', 'neardup_rate', ROUND(rate, {ROUND})
      FROM aud_dup
    UNION ALL SELECT 'video', 'neardup_rate', ROUND(rate, {ROUND})
      FROM vid_dup"""


def q_multimodal_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intake vet-the-increment (operators.multimodal.
    multimodal_report_incremental): the doc_id%3==0 batch arrives with
    EVERY modality misconfigured — images resized 8→12, audio resampled
    256→320 samples, video re-cut every 4→2 frames — plus every 30th
    payload corrupted to junk; vetted against the rolled multimodal
    state of the rest of the corpus (prior payloads never re-read). All
    three modality rows must flag."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        attach_synthetic_image,
        attach_synthetic_video,
        multimodal_report_incremental,
        multimodal_state,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 500")
    prior_ids = ids.filter("doc_id % 3 != 0")
    batch_ids = ids.filter("doc_id % 3 = 0")

    def corrupt(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "payload",
            F.when(F.col("doc_id") % 30 == 0, F.lit(b"junk")).otherwise(
                F.col("payload")
            ),
        )

    state = multimodal_state(
        attach_synthetic_image(prior_ids, width=8, height=4),
        attach_synthetic_audio(prior_ids, n_samples=256),
        attach_synthetic_video(prior_ids, width=16, height=8,
                               n_frames=8, cut_every=4),
    )
    out = multimodal_report_incremental(
        corrupt(attach_synthetic_image(batch_ids, width=12, height=4)),
        corrupt(attach_synthetic_audio(batch_ids, n_samples=320)),
        corrupt(attach_synthetic_video(batch_ids, width=16, height=8,
                                       n_frames=8, cut_every=2)),
        state,
    )
    return _round_cols(
        out,
        [
            "ref_error_rate", "curr_error_rate", "error_rate_diff",
            "ref_s1_mean", "curr_s1_mean", "s1_rel_diff",
            "ref_s2_mean", "curr_s2_mean", "s2_rel_diff",
        ],
    )


def _multimodal_incremental_sql(
    err_thr: float = 0.02, stat_thr: float = 0.05,
) -> str:
    prior = ("SELECT DISTINCT doc_id FROM documents"
             " WHERE doc_id < 500 AND doc_id % 3 <> 0")
    batch_all = ("SELECT DISTINCT doc_id FROM documents"
                 " WHERE doc_id < 500 AND doc_id % 3 = 0")
    batch_ok = f"{batch_all} AND doc_id % 30 <> 0"

    def image_docs(name: str, src: str, w: int, h: int) -> str:
        n = w * h * 3
        return f"""{name}_px AS (
      SELECT d.doc_id, CAST((d.doc_id * 31 + r.i * 7) % 256 AS DOUBLE) AS v,
        r.i % 3 AS ch, r.i // 3 AS pix
      FROM ({src}) d CROSS JOIN range({n}) r(i)),
    {name}_lp AS (
      SELECT doc_id, pix, SUM(v * CASE ch WHEN 0 THEN 0.299
        WHEN 1 THEN 0.587 ELSE 0.114 END) AS luma
      FROM {name}_px GROUP BY 1, 2),
    {name} AS (
      SELECT doc_id, AVG(luma) AS s1, CAST({w} AS DOUBLE) AS s2
      FROM {name}_lp GROUP BY 1)"""

    def audio_docs(name: str, src: str, n: int, rate: int = 16000) -> str:
        return f"""{name} AS (
      SELECT d.doc_id,
        SQRT(CAST(SUM(((d.doc_id * 37 + r.i * 11) % 4001 - 2000) *
                      ((d.doc_id * 37 + r.i * 11) % 4001 - 2000))
             AS DOUBLE) / {n}) AS s1,
        CAST(1000.0 * {n} / {rate} AS DOUBLE) AS s2
      FROM ({src}) d CROSS JOIN range({n}) r(i) GROUP BY 1)"""

    def video_docs(name: str, src: str, ce: int, npix: int = 128,
                   nf: int = 8, thr: int = 8) -> str:
        return f"""{name}_fs AS (
      SELECT d.doc_id, f.f,
        SUM((d.doc_id * 13 + f.f * 29 + r.i * 3 +
             CASE WHEN f.f % {ce} = 0 THEN 96 ELSE 0 END) % 256) AS s
      FROM ({src}) d CROSS JOIN range({nf}) f(f)
      CROSS JOIN range({npix}) r(i) GROUP BY 1, 2),
    {name}_dl AS (
      SELECT doc_id, ABS(s - LAG(s) OVER (PARTITION BY doc_id
        ORDER BY f)) AS dd
      FROM {name}_fs),
    {name} AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN dd > {thr * npix} THEN 1 ELSE 0 END)
             AS DOUBLE) AS s1,
        CAST(SUM(COALESCE(dd, 0)) AS DOUBLE) / {npix * (nf - 1)} AS s2
      FROM {name}_dl GROUP BY 1)"""

    rel = (
        "CASE WHEN {r} = 0 THEN (CASE WHEN {c} <> 0 THEN 1.0 ELSE 0.0 END)"
        " ELSE ({c} - {r}) / ABS({r}) END"
    )
    row = f"""
      SELECT '{{m}}' AS modality,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM ({prior})) AS ref_n,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM ({batch_all})) AS curr_n,
        CAST(0.0 AS DOUBLE) AS ref_error_rate,
        (SELECT COUNT(*) FROM ({batch_all}) WHERE doc_id % 30 = 0)
          / CAST((SELECT COUNT(*) FROM ({batch_all})) AS DOUBLE)
          AS curr_error_rate,
        (SELECT AVG(s1) FROM {{rn}}) AS ref_s1_mean,
        (SELECT AVG(s1) FROM {{cn}}) AS curr_s1_mean,
        (SELECT AVG(s2) FROM {{rn}}) AS ref_s2_mean,
        (SELECT AVG(s2) FROM {{cn}}) AS curr_s2_mean"""
    body = " UNION ALL ".join(
        row.format(m=m, rn=f"{m[:2]}_ref", cn=f"{m[:2]}_cur")
        for m in ("image", "audio", "video")
    )
    return f"""
    WITH {image_docs('im_ref', prior, 8, 4)},
    {image_docs('im_cur', batch_ok, 12, 4)},
    {audio_docs('au_ref', prior, 256)},
    {audio_docs('au_cur', batch_ok, 320)},
    {video_docs('vi_ref', prior, 4)},
    {video_docs('vi_cur', batch_ok, 2)},
    panel AS ({body}),
    diffed AS (
      SELECT *,
        curr_error_rate - ref_error_rate AS error_rate_diff,
        {rel.format(r='ref_s1_mean', c='curr_s1_mean')} AS s1_rel_diff,
        {rel.format(r='ref_s2_mean', c='curr_s2_mean')} AS s2_rel_diff
      FROM panel)
    SELECT modality, ref_n, curr_n,
      ROUND(ref_error_rate, {ROUND}) AS ref_error_rate,
      ROUND(curr_error_rate, {ROUND}) AS curr_error_rate,
      ROUND(ref_s1_mean, {ROUND}) AS ref_s1_mean,
      ROUND(curr_s1_mean, {ROUND}) AS curr_s1_mean,
      ROUND(ref_s2_mean, {ROUND}) AS ref_s2_mean,
      ROUND(curr_s2_mean, {ROUND}) AS curr_s2_mean,
      ROUND(error_rate_diff, {ROUND}) AS error_rate_diff,
      ROUND(s1_rel_diff, {ROUND}) AS s1_rel_diff,
      ROUND(s2_rel_diff, {ROUND}) AS s2_rel_diff,
      ROUND(ABS(error_rate_diff), 5) > {err_thr!r}
        OR COALESCE(ROUND(ABS(s1_rel_diff), 5) > {stat_thr!r},
                    ref_n = 0 OR curr_n = 0)
        OR COALESCE(ROUND(ABS(s2_rel_diff), 5) > {stat_thr!r}, FALSE)
        AS drift_detected
    FROM diffed"""


def q_audio_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio member of the vet-the-increment family (operators.multimodal.
    audio_neardup_incremental): the doc_id%3==0 ingest batch of WAVs —
    plus re-uploads of PRIOR-corpus recordings (doc_id+4e6 re-using the
    successor's sample seed) — blocked against the prior corpus's 8-byte
    energy-fingerprint state; re-uploads must flag dup_of_state, prior
    waveforms never re-read."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        audio_ahash_state,
        audio_neardup_incremental,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    prior = ids.filter("doc_id % 3 != 0").selectExpr("doc_id", "doc_id AS seed")
    batch_base = ids.filter("doc_id % 3 = 0").selectExpr(
        "doc_id", "doc_id AS seed"
    )
    succ = ids.selectExpr("doc_id - 1 AS doc_id")
    mirrors = (
        ids.filter("doc_id % 3 = 0")
        .join(succ, "doc_id", "left_semi")
        .selectExpr("doc_id + 4000000 AS doc_id", "doc_id + 1 AS seed")
    )
    mk = lambda src: attach_synthetic_audio(src, n_samples=256, seed_col="seed")
    state = audio_ahash_state(mk(prior))
    return audio_neardup_incremental(
        mk(batch_base.unionByName(mirrors)), state,
        grid=64, max_distance=3, bands=4,
    )


def _audio_sig_chain_sql(prefix: str, src: str) -> str:
    """CTE chain computing the integer-exact audio energy fingerprint
    for every (doc_id, seed) row of ``src`` — ends in
    ``sig_{prefix}(doc_id, h)``; same closed form as _audio_neardup_sql
    (n=256, grid 64, sign-bit packed via the two-literal long-min)."""
    p = prefix
    return f"""sm_{p} AS (
      SELECT s.doc_id,
        (s.seed * 37 + r.i * 11) % 4001 - 2000 AS v,
        r.i // 4 AS j
      FROM {src} s CROSS JOIN range(256) r(i)),
    seg_{p} AS (
      SELECT doc_id, j, SUM(v * v) AS e, COUNT(*) AS c
      FROM sm_{p} GROUP BY 1, 2),
    tot_{p} AS (SELECT doc_id, SUM(e) AS e_tot, SUM(c) AS n_tot
                FROM seg_{p} GROUP BY 1),
    sig_{p} AS (
      SELECT seg_{p}.doc_id,
        CAST(SUM(CASE WHEN e * n_tot <= e_tot * c THEN 0
                 WHEN j = 63 THEN -9223372036854775807 - 1
                 ELSE CAST(1 AS BIGINT) << CAST(j AS INT)
                 END) AS BIGINT) AS h
      FROM seg_{p} JOIN tot_{p} USING (doc_id) GROUP BY 1)"""


def _audio_incremental_sql(max_distance: int = 3) -> str:
    return f"""
    WITH prior_src AS (
      SELECT doc_id, doc_id AS seed FROM documents
      WHERE doc_id < 200 AND doc_id % 3 <> 0),
    batch_src AS (
      SELECT doc_id, doc_id AS seed FROM documents
      WHERE doc_id < 200 AND doc_id % 3 = 0
      UNION ALL
      SELECT d.doc_id + 4000000, d.doc_id + 1 FROM documents d
      WHERE d.doc_id < 200 AND d.doc_id % 3 = 0
        AND EXISTS (SELECT 1 FROM documents e
                    WHERE e.doc_id = d.doc_id + 1 AND e.doc_id < 200)),
    {_audio_sig_chain_sql('p', 'prior_src')},
    {_audio_sig_chain_sql('b', 'batch_src')},
    pb AS (
      SELECT doc_id, h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig_b CROSS JOIN range(4) r(i)
      WHERE h <> 0),
    sb AS (
      SELECT h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig_p CROSS JOIN range(4) r(i)
      WHERE h <> 0),
    state_hits AS (
      SELECT DISTINCT b.doc_id FROM pb b JOIN sb s
        ON b.band = s.band AND b.key = s.key
      WHERE bit_count(xor(b.h, s.h)) <= {max_distance}),
    batch_hits AS (
      SELECT DISTINCT c.doc_id FROM pb c JOIN pb e
        ON c.band = e.band AND c.key = e.key
      WHERE e.doc_id < c.doc_id
        AND bit_count(xor(c.h, e.h)) <= {max_distance})
    SELECT b.doc_id,
      s.doc_id IS NOT NULL AS dup_of_state,
      h.doc_id IS NOT NULL AS dup_in_batch,
      s.doc_id IS NULL AND h.doc_id IS NULL AS keep
    FROM sig_b b
    LEFT JOIN state_hits s ON s.doc_id = b.doc_id
    LEFT JOIN batch_hits h ON h.doc_id = b.doc_id"""


def q_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup closed to CLUSTERS: the q_image_neardup pair graph
    (aHash banded-Hamming, mirrors + natural near-twins) through the
    generic pointer-jumping connected components (operators.dedup.
    neardup_clusters) — the same composition the text corpus runs, over
    perceptual-hash edges. Oracle: recursive transitive closure,
    cluster_id = min reachable id."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        neardup_clusters,
    )
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        image_neardup_pairs,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    base = ids.selectExpr("doc_id", "doc_id AS seed")
    mirrors = ids.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 4000000 AS doc_id", "doc_id AS seed"
    )
    imgs = attach_synthetic_image(
        base.unionByName(mirrors), width=8, height=4, fmt="ppm",
        seed_col="seed",
    )
    pairs = image_neardup_pairs(imgs, grid=8, max_distance=3, bands=4)
    return neardup_clusters(pairs)


def _image_clusters_sql() -> str:
    return f"""
    WITH p AS (SELECT * FROM ({_image_neardup_sql()})),
    edges AS (SELECT id1 AS a, id2 AS b FROM p
              UNION ALL SELECT id2 AS a, id1 AS b FROM p),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    walk AS (
      WITH RECURSIVE w(src, dst) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT w.src, e.b FROM w JOIN edges e ON e.a = w.dst)
      SELECT * FROM w)
    SELECT src AS id, MIN(dst) AS cluster_id FROM walk GROUP BY 1"""


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video temporal-fingerprint dedup (operators.multimodal.
    video_neardup_pairs): 17-frame synthetic y4m clips for doc_id < 200
    plus exact re-uploads (doc_id+4e6 re-using the original's seed) —
    frame-delta activity aHash through the shared banded-Hamming
    blocking; the integer-exact bit test replays in DuckDB from the
    closed-form per-frame luma sums, re-uploads land at hamming 0."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_video,
        video_neardup_pairs,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    base = ids.selectExpr("doc_id", "doc_id AS seed")
    mirrors = ids.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 4000000 AS doc_id", "doc_id AS seed"
    )
    vids = attach_synthetic_video(
        base.unionByName(mirrors), width=16, height=8, n_frames=17,
        cut_every=4, seed_col="seed",
    )
    out = video_neardup_pairs(vids, grid=64, max_distance=3, bands=4)
    return out.selectExpr(
        "id1", "id2", "CAST(hamming AS BIGINT) AS hamming"
    )


def _video_sig_chain_sql(
    prefix: str, src: str, nf: int = 17, npix: int = 128,
    cut_every: int = 4, grid: int = 64,
) -> str:
    """CTE chain computing the integer-exact video temporal fingerprint
    for every (doc_id, seed) row of ``src`` — ends in
    ``sig_{prefix}(doc_id, h)``. Replays multimodal.video_ahash from
    the attach_synthetic_video closed form: exact per-frame luma sums,
    absolute frame deltas split into ``grid`` time segments, the
    cross-multiplied density bit test, sign bit packed via the
    overflow-free two-literal long-min."""
    p = prefix
    nd = nf - 1
    return f"""fs_{p} AS (
      SELECT s.doc_id, f.f,
        SUM((s.seed * 13 + f.f * 29 + r.i * 3 +
             CASE WHEN {cut_every} > 0 AND f.f % {cut_every} = 0
                  THEN 96 ELSE 0 END) % 256) AS sm
      FROM {src} s CROSS JOIN range({nf}) f(f)
      CROSS JOIN range({npix}) r(i)
      GROUP BY 1, 2),
    dl_{p} AS (
      SELECT doc_id, f - 1 AS di,
        ABS(sm - LAG(sm) OVER (PARTITION BY doc_id ORDER BY f)) AS d
      FROM fs_{p}),
    seg_{p} AS (
      SELECT doc_id, di * {grid} // {nd} AS j, SUM(d) AS m, COUNT(*) AS c
      FROM dl_{p} WHERE d IS NOT NULL GROUP BY 1, 2),
    tot_{p} AS (SELECT doc_id, SUM(m) AS m_tot, SUM(c) AS n_tot
                FROM seg_{p} GROUP BY 1),
    sig_{p} AS (
      SELECT seg_{p}.doc_id,
        CAST(SUM(CASE WHEN m * n_tot <= m_tot * c THEN 0
                 WHEN j = 63 THEN -9223372036854775807 - 1
                 ELSE CAST(1 AS BIGINT) << CAST(j AS INT)
                 END) AS BIGINT) AS h
      FROM seg_{p} JOIN tot_{p} USING (doc_id) GROUP BY 1)"""


def _video_neardup_sql(max_distance: int = 3) -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, doc_id AS seed FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 4000000, doc_id FROM documents
      WHERE doc_id < 200 AND doc_id % 5 = 0),
    {_video_sig_chain_sql('v', 'src')},
    banded AS (
      SELECT doc_id, h, r.i AS band,
        ((h >> (r.i * 16)) & 65535) AS key
      FROM sig_v CROSS JOIN range(4) r(i)
      WHERE h <> 0)
    SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
      CAST(bit_count(xor(a.h, c.h)) AS BIGINT) AS hamming
    FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key
    WHERE a.doc_id < c.doc_id
      AND bit_count(xor(a.h, c.h)) <= {max_distance}"""


def q_video_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video member of the vet-the-increment family (operators.multimodal.
    video_neardup_incremental): the doc_id%3==0 ingest batch of y4m clips
    — plus re-uploads of PRIOR-corpus clips (doc_id+4e6 re-using the
    successor's seed) — blocked against the prior corpus's 8-byte
    temporal-fingerprint state; re-uploads must flag dup_of_state, prior
    frames never re-read."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_video,
        video_ahash_state,
        video_neardup_incremental,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 200")
    prior = ids.filter("doc_id % 3 != 0").selectExpr("doc_id", "doc_id AS seed")
    batch_base = ids.filter("doc_id % 3 = 0").selectExpr(
        "doc_id", "doc_id AS seed"
    )
    succ = ids.selectExpr("doc_id - 1 AS doc_id")
    mirrors = (
        ids.filter("doc_id % 3 = 0")
        .join(succ, "doc_id", "left_semi")
        .selectExpr("doc_id + 4000000 AS doc_id", "doc_id + 1 AS seed")
    )
    mk = lambda src: attach_synthetic_video(
        src, width=16, height=8, n_frames=17, cut_every=4, seed_col="seed"
    )
    state = video_ahash_state(mk(prior))
    return video_neardup_incremental(
        mk(batch_base.unionByName(mirrors)), state,
        grid=64, max_distance=3, bands=4,
    )


def _video_incremental_sql(max_distance: int = 3) -> str:
    return f"""
    WITH prior_src AS (
      SELECT doc_id, doc_id AS seed FROM documents
      WHERE doc_id < 200 AND doc_id % 3 <> 0),
    batch_src AS (
      SELECT doc_id, doc_id AS seed FROM documents
      WHERE doc_id < 200 AND doc_id % 3 = 0
      UNION ALL
      SELECT d.doc_id + 4000000, d.doc_id + 1 FROM documents d
      WHERE d.doc_id < 200 AND d.doc_id % 3 = 0
        AND EXISTS (SELECT 1 FROM documents e
                    WHERE e.doc_id = d.doc_id + 1 AND e.doc_id < 200)),
    {_video_sig_chain_sql('p', 'prior_src')},
    {_video_sig_chain_sql('b', 'batch_src')},
    pb AS (
      SELECT doc_id, h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig_b CROSS JOIN range(4) r(i)
      WHERE h <> 0),
    sb AS (
      SELECT h, r.i AS band, (h >> (r.i * 16)) & 65535 AS key
      FROM sig_p CROSS JOIN range(4) r(i)
      WHERE h <> 0),
    state_hits AS (
      SELECT DISTINCT b.doc_id FROM pb b JOIN sb s
        ON b.band = s.band AND b.key = s.key
      WHERE bit_count(xor(b.h, s.h)) <= {max_distance}),
    batch_hits AS (
      SELECT DISTINCT c.doc_id FROM pb c JOIN pb e
        ON c.band = e.band AND c.key = e.key
      WHERE e.doc_id < c.doc_id
        AND bit_count(xor(c.h, e.h)) <= {max_distance})
    SELECT b.doc_id,
      s.doc_id IS NOT NULL AS dup_of_state,
      h.doc_id IS NOT NULL AS dup_in_batch,
      s.doc_id IS NULL AND h.doc_id IS NULL AS keep
    FROM sig_b b
    LEFT JOIN state_hits s ON s.doc_id = b.doc_id
    LEFT JOIN batch_hits h ON h.doc_id = b.doc_id"""


def _qc_weights(d: int = 256) -> list[float]:
    """Deterministic stand-in for a trained fastText weight vector: every
    weight is an exact multiple of 1/1024, so Spark's sequential aggregate
    fold and DuckDB's SUM land on the SAME exact double (no float-assoc
    divergence) — the stand-in for an offline fit, like the PCA literal
    components above."""
    return [((b * 2654435761) % 2048 - 1024) / 1024.0 for b in range(d)]


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality scoring (CCNet/LLaMA classifier step): hashed
    uni+bigram features dotted with an inlined weight vector → sigmoid.
    md5 hash family so DuckDB replays the bucketing; xxhash is the
    production family (unit-tested)."""
    from pyspark_data_drift_detector_spark.operators.quality import quality_classifier

    out = quality_classifier(
        _documents(spark, sf_dir),
        weights=_qc_weights(),
        bias=-0.25,
        hash_family="md5",
    )
    return _round_cols(out, ["logit", "score"])


def _quality_classifier_core_sql(d: int = 256) -> str:
    """Shared CTE text scoring every document under the _qc_weights
    classifier (ends in `base`: doc_id, n_grams, UNROUNDED logit) —
    consumed by the per-doc query below and the threshold sweep, which
    must compare RAW scores against thresholds exactly like Spark."""
    w = _qc_weights(d)
    warr = "[" + ", ".join(repr(x) for x in w) + "]"
    return f"""
    WITH t AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '') AS tk
      FROM documents
      -- mirror Spark's `__y IS NOT NULL` guard: a NULL label must not
      -- count in the gradient normalizer n
      WHERE text IS NOT NULL AND lang IS NOT NULL),
    g AS (
      SELECT doc_id, unnest(list_concat(tk,
        list_transform(range(1, greatest(len(tk), 1)),
          i -> list_extract(tk, i) || ' ' || list_extract(tk, i + 1)))) AS gram
      FROM t),
    s AS (
      SELECT doc_id,
        SUM(({warr})[
          CAST(('0x' || substring(md5(gram), 1, 15))::BIGINT % {d} AS INT) + 1
        ]) AS sw,
        COUNT(*) AS ng
      FROM g GROUP BY 1),
    base AS (
      SELECT d.doc_id,
        CASE WHEN d.text IS NULL THEN NULL
             ELSE CAST(-0.25 + COALESCE(s.sw, 0) AS DOUBLE) END AS logit,
        CASE WHEN d.text IS NULL THEN NULL
             ELSE CAST(COALESCE(s.ng, 0) AS INT) END AS n_grams
      FROM documents d LEFT JOIN s USING (doc_id))"""


def _quality_classifier_sql(d: int = 256) -> str:
    return f"""
    {_quality_classifier_core_sql(d)}
    SELECT doc_id, n_grams, ROUND(logit, {ROUND}) AS logit,
      ROUND(1.0 / (1.0 + exp(-logit)), {ROUND}) AS score,
      (1.0 / (1.0 + exp(-logit))) >= 0.5 AS keep
    FROM base"""


def q_fit_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the learned quality scorer: full-batch logistic regression
    over hashed uni+bigram counts (label: lang == 'en', the CCNet
    seed-vs-crawl shape), 2 GD iterations from zero init — fully
    deterministic, no seed. Output: one row per bucket with the fitted
    weight, plus a bucket=-1 bias row; the oracle unrolls both gradient
    steps in SQL."""
    from pyspark_data_drift_detector_spark.operators.quality import (
        fit_quality_classifier,
    )

    docs = _documents(spark, sf_dir).selectExpr(
        "doc_id",
        "text",
        "CAST(lang = 'en' AS INT) AS is_en",
    )
    w, b = fit_quality_classifier(
        docs,
        "is_en",
        weights_dim=64,
        iters=2,
        lr=0.5,
        hash_family="md5",
    )
    rows = [(-1, float(b))] + [(i, float(x)) for i, x in enumerate(w)]
    out = spark.createDataFrame(rows, "bucket int, weight double")
    return _round_cols(out, ["weight"])


def _fit_quality_classifier_sql(d: int = 64, lr: float = 0.5) -> str:
    """Unrolled 2-step GD replay: zero init makes step 1's errors exactly
    0.5 - y (all logits 0), so w1 is an exact sum; step 2 rescales through
    the sigmoid. Gradient = SUM(cnt*err)/n over ALL labeled docs; the
    bucket grid LEFT JOIN keeps untouched buckets at weight 0."""
    return f"""
    WITH t AS (
      SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y,
        list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '') AS tk
      FROM documents
      -- mirror Spark's `__y IS NOT NULL` guard: a NULL label must not
      -- count in the gradient normalizer n
      WHERE text IS NOT NULL AND lang IS NOT NULL),
    g AS (
      SELECT doc_id, unnest(list_concat(tk,
        list_transform(range(1, greatest(len(tk), 1)),
          i -> list_extract(tk, i) || ' ' || list_extract(tk, i + 1)))) AS gram
      FROM t),
    c AS (
      SELECT doc_id,
        CAST(('0x' || substring(md5(gram), 1, 15))::BIGINT % {d} AS INT)
          AS bucket,
        CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM g GROUP BY 1, 2),
    lab AS (SELECT doc_id, y FROM t),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab),
    grid AS (SELECT CAST(r.i AS INT) AS bucket FROM range({d}) r(i)),
    -- step 1: logits all zero, err = 0.5 - y
    e1 AS (SELECT doc_id, 0.5 - y AS err FROM lab),
    w1 AS (
      SELECT grid.bucket,
        -{lr!r} * COALESCE(gw.s, 0) / (SELECT n FROM n) AS w
      FROM grid LEFT JOIN (
        SELECT c.bucket, SUM(c.cnt * e1.err) AS s
        FROM c JOIN e1 USING (doc_id) GROUP BY 1) gw USING (bucket)),
    b1 AS (SELECT -{lr!r} * AVG(err) AS b FROM e1),
    -- step 2
    s2 AS (SELECT c.doc_id, SUM(c.cnt * w1.w) AS s
           FROM c JOIN w1 USING (bucket) GROUP BY 1),
    e2 AS (
      SELECT lab.doc_id,
        1.0 / (1.0 + exp(-((SELECT b FROM b1) + COALESCE(s2.s, 0)))) - lab.y
          AS err
      FROM lab LEFT JOIN s2 USING (doc_id)),
    w2 AS (
      SELECT w1.bucket,
        w1.w - {lr!r} * COALESCE(gw.s, 0) / (SELECT n FROM n) AS w
      FROM w1 LEFT JOIN (
        SELECT c.bucket, SUM(c.cnt * e2.err) AS s
        FROM c JOIN e2 USING (doc_id) GROUP BY 1) gw USING (bucket)),
    b2 AS (SELECT (SELECT b FROM b1) - {lr!r} * AVG(err) AS b FROM e2)
    SELECT CAST(-1 AS INT) AS bucket, ROUND((SELECT b FROM b2), {ROUND}) AS weight
    UNION ALL
    SELECT bucket, ROUND(w, {ROUND}) AS weight FROM w2"""


def q_corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end cleaning run a training-data pipeline ships:
    annotate every document with its first failing gate (empty → quality
    → learned classifier → normalized dedup → benchmark decontamination)
    and report the per-stage funnel. Members reuse the oracled gates
    (md5 classifier family, 4-gram %50 benchmark, normalize_text_expr
    canonical dedup)."""
    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        clean_corpus,
        corpus_funnel,
    )

    docs = _documents(spark, sf_dir)
    ann = clean_corpus(
        docs,
        benchmark=docs.filter(F.col("doc_id") % 50 == 0),
        weights=_qc_weights(),
        bias=-0.25,
        decontaminate_n=4,
        classifier_hash_family="md5",
    )
    return corpus_funnel(ann)


def _clean_corpus_ann_sql() -> str:
    """Shared WITH-body replaying ``clean_corpus``'s per-document
    first-failing-stage annotation (quality + classifier verdicts from
    the member oracle bodies, canonical-text dedup among pre-stage
    survivors, 4-gram benchmark semi-join) up to the ``ann(doc_id,
    stage)`` CTE — consumed by both the funnel and the
    training-mix-report oracles."""
    return f"""q AS (SELECT doc_id, passes FROM ({_quality_filter_sql()}) s),
    clf AS (SELECT doc_id, keep FROM ({_quality_classifier_sql()}) s),
    pre AS (
      SELECT d.doc_id, d.text,
        CASE WHEN d.text IS NULL OR trim(d.text) = '' THEN 'empty'
             WHEN NOT q.passes THEN 'quality'
             WHEN NOT clf.keep THEN 'classifier' END AS pre_stage
      FROM documents d
      LEFT JOIN q USING (doc_id) LEFT JOIN clf USING (doc_id)),
    surv AS (SELECT doc_id, text FROM pre WHERE pre_stage IS NULL),
    norm AS (
      SELECT doc_id,
        md5(trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS ck
      FROM surv),
    grp AS (SELECT ck, MIN(doc_id) AS survivor_id FROM norm GROUP BY ck),
    dup AS (SELECT n.doc_id, n.doc_id != g.survivor_id AS is_dup
            FROM norm n JOIN grp g USING (ck)),
    ng AS (SELECT DISTINCT doc_id, gram FROM ({_ngram_sql(4)})),
    bench AS (SELECT DISTINCT gram FROM ng WHERE doc_id % 50 = 0),
    con AS (SELECT DISTINCT s.doc_id
            FROM surv s JOIN ng USING (doc_id)
            JOIN bench USING (gram)),
    ann AS (
      SELECT pre.doc_id,
        COALESCE(pre.pre_stage,
          CASE WHEN d.is_dup THEN 'duplicate'
               WHEN c.doc_id IS NOT NULL THEN 'contaminated' END) AS stage
      FROM pre
      LEFT JOIN dup d USING (doc_id)
      LEFT JOIN con c ON c.doc_id = pre.doc_id)"""


def _corpus_clean_funnel_sql() -> str:
    """Composed replay: the shared per-doc stage annotation
    (:func:`_clean_corpus_ann_sql`) aggregated to stage counts."""
    return f"""
    WITH {_clean_corpus_ann_sql()}
    SELECT COALESCE(stage, 'kept') AS stage,
      CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ann GROUP BY 1"""


def q_corpus_funnel_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language loss attribution for the cleaning run: the same
    gate config as q_corpus_clean_funnel, broken out by lang — WHICH
    slice of the corpus pays the quality/classifier/dedup tax."""
    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        clean_corpus,
        corpus_funnel,
    )

    docs = _documents(spark, sf_dir)
    ann = clean_corpus(
        docs,
        benchmark=docs.filter(F.col("doc_id") % 50 == 0),
        weights=_qc_weights(),
        bias=-0.25,
        decontaminate_n=4,
        classifier_hash_family="md5",
    )
    return corpus_funnel(ann, group_col="lang")


def _corpus_funnel_grouped_sql() -> str:
    return f"""
    WITH {_clean_corpus_ann_sql()}
    SELECT COALESCE(a.stage, 'kept') AS stage, d.lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ann a JOIN documents d USING (doc_id)
    GROUP BY 1, 2"""


def q_training_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end "make me a pretraining mix" flagship: clean (the
    q_corpus_clean_funnel gate config) → rebalance survivors to an
    explicit lang token mixture → pack into 256-token windows, reported
    as ONE long frame (funnel counts, requested-vs-achieved token
    shares, pack-fill stats) in the shared report schema."""
    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        training_mix_report,
    )

    docs = _documents(spark, sf_dir)
    out = training_mix_report(
        docs,
        {"en": 0.4, "zh": 0.2, "de": 0.2, "fr": 0.1, "es": 0.1},
        budget=256,
        clean_kwargs=dict(
            benchmark=docs.filter(F.col("doc_id") % 50 == 0),
            weights=_qc_weights(),
            bias=-0.25,
            decontaminate_n=4,
            classifier_hash_family="md5",
        ),
    )
    return _round_cols(out, ["ref_value", "curr_value", "diff"])


def _training_mix_report_sql(
    budget: int = 256, tolerance: float = 0.02
) -> str:
    """Composed replay: the shared clean-corpus annotation, survivor
    whitespace-token masses, the mix_sample rate/variate math
    (``_mix_sample_tokens_sql`` body over survivors), a window-cumsum
    packing replay (``_pack_documents_sql`` body over the mix), melted
    into the report rows."""
    return f"""
    WITH {_clean_corpus_ann_sql()},
    sv AS (
      SELECT d.doc_id, d.lang,
        CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS w
      FROM ann a JOIN documents d USING (doc_id) WHERE a.stage IS NULL),
    c AS (SELECT lang, SUM(CAST(w AS DOUBLE)) AS mass
          FROM sv GROUP BY 1 HAVING SUM(CAST(w AS DOUBLE)) > 0),
    t(lang, target_share) AS (VALUES
      ('en', CAST(0.4 AS DOUBLE)), ('zh', CAST(0.2 AS DOUBLE)),
      ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
      ('es', CAST(0.1 AS DOUBLE))),
    j AS (SELECT c.lang, c.mass, t.target_share FROM c JOIN t USING (lang)),
    m AS (SELECT MIN(mass / target_share) AS nmax FROM j),
    r AS (SELECT lang, CAST(mass AS BIGINT) AS avail, target_share,
            LEAST(CAST(1.0 AS DOUBLE), target_share * nmax / mass)
              AS sample_rate
          FROM j CROSS JOIN m),
    u AS (SELECT doc_id, lang, w, {_md5_u_sql("mix")} AS uu FROM sv),
    mixed AS (
      SELECT u.doc_id, u.lang, u.w, r.avail, r.target_share, r.sample_rate
      FROM u JOIN r USING (lang)
      WHERE u.uu < FLOOR(r.sample_rate * 1000000)),
    shares AS (
      SELECT lang, CAST(SUM(w) AS BIGINT) AS tok,
        CAST(COUNT(*) AS BIGINT) AS docs,
        ANY_VALUE(target_share) AS ts, ANY_VALUE(sample_rate) AS rate,
        ANY_VALUE(avail) AS avail
      FROM mixed GROUP BY 1),
    sh AS (SELECT *, tok / NULLIF(SUM(tok) OVER (), 0.0) AS ach
           FROM shares),
    funnel AS (SELECT COALESCE(stage, 'kept') AS stage,
                 CAST(COUNT(*) AS BIGINT) AS n FROM ann GROUP BY 1),
    cum AS (SELECT doc_id, w,
              SUM(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
            FROM mixed),
    packs AS (SELECT CAST((cw - w) // {budget} AS BIGINT) AS pack_id,
                CAST(SUM(w) AS BIGINT) AS pt
              FROM cum GROUP BY 1),
    psum AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
               AVG(CAST(pt AS DOUBLE) / {budget}) AS fill,
               AVG(CASE WHEN pt > {budget} THEN 1.0 ELSE 0.0 END) AS osh,
               CAST(SUM(pt) AS BIGINT) AS ptok
             FROM packs)
    SELECT 'mix' AS family, lang AS key, 'token_share' AS metric,
      ROUND(ts, {ROUND}) AS ref_value, ROUND(ach, {ROUND}) AS curr_value,
      ROUND(ABS(ach - ts), {ROUND}) AS diff,
      ROUND(ABS(ach - ts), {ROUND}) > {tolerance} AS drift_detected
    FROM sh
    UNION ALL
    SELECT 'mix', lang, 'tokens', CAST(avail AS DOUBLE), CAST(tok AS DOUBLE),
      CAST(tok - avail AS DOUBLE), FALSE FROM sh
    UNION ALL
    SELECT 'mix', lang, 'sample_rate', NULL, ROUND(rate, {ROUND}), NULL,
      FALSE FROM sh
    UNION ALL
    SELECT 'mix', lang, 'n_docs', NULL, CAST(docs AS DOUBLE), NULL, FALSE
    FROM sh
    UNION ALL
    SELECT 'funnel', stage, 'n_docs', NULL, CAST(n AS DOUBLE), NULL, FALSE
    FROM funnel
    UNION ALL
    SELECT 'packing', 'all', 'n_packs', NULL, CAST(np AS DOUBLE), NULL,
      FALSE FROM psum
    UNION ALL
    SELECT 'packing', 'all', 'mean_fill', 1.0, ROUND(fill, {ROUND}),
      ROUND(1.0 - fill, {ROUND}), FALSE FROM psum
    UNION ALL
    SELECT 'packing', 'all', 'overflow_share', 0.0, ROUND(osh, {ROUND}),
      ROUND(osh, {ROUND}), FALSE FROM psum
    UNION ALL
    SELECT 'packing', 'all', 'total_tokens', NULL, CAST(ptok AS DOUBLE),
      NULL, FALSE FROM psum"""


def q_classifier_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the learned scorer: per threshold, the
    corpus keep rate plus precision/recall/F1 against the lang=='en'
    label — the deployment decision (which threshold hits the corpus
    budget) as one single-pass aggregate."""
    from pyspark_data_drift_detector_spark.operators.quality import (
        classifier_threshold_sweep,
    )

    docs = _documents(spark, sf_dir).selectExpr(
        "doc_id", "text", "CAST(lang = 'en' AS INT) AS is_en"
    )
    out = classifier_threshold_sweep(
        docs,
        weights=_qc_weights(),
        bias=-0.25,
        label_col="is_en",
        hash_family="md5",
    )
    return _round_cols(out, ["keep_rate", "precision", "recall", "f1"])


def _classifier_sweep_sql() -> str:
    ts = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    per_t = "\nUNION ALL\n".join(
        f"""SELECT CAST({t!r} AS DOUBLE) AS threshold, n_scored, k{i} AS n_keep,
      ROUND(k{i} / CAST(NULLIF(n_scored, 0) AS DOUBLE), {ROUND}) AS keep_rate,
      tp{i} AS tp, kl{i} - tp{i} AS fp, fn{i} AS fn,
      ROUND(tp{i} / CAST(NULLIF(kl{i}, 0) AS DOUBLE), {ROUND}) AS precision,
      ROUND(tp{i} / CAST(NULLIF(tp{i} + fn{i}, 0) AS DOUBLE), {ROUND}) AS recall,
      ROUND(2.0 * tp{i} / CAST(NULLIF(kl{i} + tp{i} + fn{i}, 0) AS DOUBLE),
            {ROUND}) AS f1
    FROM agg"""
        for i, t in enumerate(ts)
    )
    sums = ",\n".join(
        f"""CAST(SUM(CASE WHEN score >= {t!r} THEN 1 ELSE 0 END) AS BIGINT) AS k{i},
      CAST(SUM(CASE WHEN score >= {t!r} AND y IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS kl{i},
      CAST(SUM(CASE WHEN score >= {t!r} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp{i},
      CAST(SUM(CASE WHEN score < {t!r} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn{i}"""
        for i, t in enumerate(ts)
    )
    return f"""
    {_quality_classifier_core_sql()},
    sc AS (
      SELECT b.doc_id, 1.0 / (1.0 + exp(-b.logit)) AS score,
        CAST(d.lang = 'en' AS DOUBLE) AS y
      FROM base b JOIN documents d USING (doc_id)
      WHERE b.logit IS NOT NULL),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
      {sums}
      FROM sc)
    {per_t}"""


def q_embedding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-side flagship: one long-format report (geometry /
    MMD / topic-mix families) over the even/odd vec_id split — the
    vector sibling of detect_drift and corpus_drift_report, composed
    from the three oracled members with the same knobs as their
    individual queries."""
    from pyspark_data_drift_detector_spark.embedding_pipeline import (
        embedding_drift_report,
    )

    emb = _embeddings(spark, sf_dir)
    return embedding_drift_report(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        n_clusters=8,
        share_threshold=0.0215,
        dim=64,
        n_features=48,
    )


def _embedding_report_sql() -> str:
    """UNION ALL over the three member oracles (their outputs are already
    5-dp-rounded), melted to the shared report schema with flags
    re-derived from the rounded statistics exactly as
    embedding_pipeline does."""
    return f"""
    WITH ed AS (SELECT * FROM ({_embedding_drift_sql()}) s),
    mm AS (SELECT * FROM ({_mmd_drift_sql()}) s),
    cb AS (SELECT * FROM ({_cluster_balance_sql()}) s)
    SELECT 'geometry' AS family, '' AS key, 'n_vectors' AS metric,
      CAST(ref_n AS DOUBLE) AS ref_value,
      CAST(curr_n AS DOUBLE) AS curr_value,
      CAST(NULL AS DOUBLE) AS diff, false AS drift_detected FROM ed
    UNION ALL
    SELECT 'geometry', '', 'centroid_cosine', NULL, centroid_cosine,
      ROUND(1.0 - centroid_cosine, {ROUND}), centroid_cosine < 0.99 FROM ed
    UNION ALL
    SELECT 'geometry', '', 'mean_norm', ref_mean_norm, curr_mean_norm,
      norm_shift, norm_shift > 0.1 FROM ed
    UNION ALL
    SELECT 'geometry', '', 'max_dim_shift', NULL, NULL,
      max_dim_shift, false FROM ed
    UNION ALL
    SELECT 'mmd', '', 'mmd2', NULL, NULL, mmd2, mmd2 > 0.01 FROM mm
    UNION ALL
    SELECT 'mmd', '', 'mmd', NULL, NULL, mmd, false FROM mm
    UNION ALL
    SELECT 'topic_mix',
      CASE WHEN cluster_id IS NULL THEN '<null>'
           ELSE CAST(cluster_id AS VARCHAR) END,
      'cluster_share', ref_share, curr_share, share_abs_diff,
      share_abs_diff > 0.0215 FROM cb"""


def q_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric/shape increment vetting: the vec_id%3==0 embedding batch
    against the additive embedding_state of the rest (centroid cosine,
    mean-norm shift, additive-RFF MMD²) — prior embeddings never
    re-read; the vector sibling of token_share_incremental."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        embedding_incremental,
        embedding_state,
    )

    emb = _embeddings(spark, sf_dir)
    state = embedding_state(emb.filter("vec_id % 3 != 0"), dim=64)
    return embedding_incremental(
        emb.filter("vec_id % 3 = 0"), state, dim=64, cosine_threshold=0.9999
    )


def _embedding_incremental_sql(dim: int = 64, n_features: int = 48) -> str:
    """Replay of the additive-state vetting: per-side dim/norm/RFF sums
    over the %3 split, centroid cosine from raw sums, relative norm
    shift, MMD² = (2/D)·Σ(mean feature diffs)² — same rounded-flag
    formulas as embedding_incremental's melt."""
    import math as _math

    from pyspark_data_drift_detector_spark.operators.similarity import rff_params

    w, b = rff_params(dim, n_features, seed=7)
    sigma = _math.sqrt(float(dim))
    fexprs = ", ".join(
        f"COS(list_dot_product(e, ["
        + ", ".join(f"{float(x)!r}" for x in p)
        + f"]) / {sigma!r} + {float(bb)!r}) AS f{i}"
        for i, (p, bb) in enumerate(zip(w, b))
    )
    rsums = ", ".join(
        f"SUM(CASE WHEN NOT is_b THEN f{i} ELSE 0 END) AS sr{i},"
        f" SUM(CASE WHEN is_b THEN f{i} ELSE 0 END) AS sc{i}"
        for i in range(n_features)
    )
    sq = " + ".join(
        f"power(sr{i} / nr - sc{i} / nullif(nc, 0), 2)"
        for i in range(n_features)
    )
    scale = 2.0 / float(n_features)
    return f"""
    WITH v AS (
      SELECT vec_id % 3 = 0 AS is_b, embedding::DOUBLE[] AS e
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    inv AS (
      SELECT
        COALESCE(SUM(CASE WHEN vec_id % 3 != 0 THEN 1 ELSE 0 END), 0)
          AS invr,
        COALESCE(SUM(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END), 0)
          AS invc
      FROM embeddings
      WHERE embedding IS NULL OR len(embedding) != {dim}
        OR len(list_filter(embedding, x -> x IS NULL)) > 0),
    sc AS (
      SELECT
        CAST(SUM(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS DOUBLE) AS nr,
        CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS DOUBLE) AS nc,
        SUM(CASE WHEN NOT is_b THEN sqrt(list_dot_product(e, e))
                 ELSE 0 END) AS nsr,
        SUM(CASE WHEN is_b THEN sqrt(list_dot_product(e, e))
                 ELSE 0 END) AS nsc
      FROM v),
    d AS (
      SELECT i.i AS pos,
        SUM(CASE WHEN NOT is_b THEN list_extract(e, i.i) ELSE 0 END) AS dr,
        SUM(CASE WHEN is_b THEN list_extract(e, i.i) ELSE 0 END) AS dc
      FROM v CROSS JOIN range(1, {dim + 1}) i(i) GROUP BY 1),
    cc AS (SELECT SUM(dr * dc)
             / NULLIF(sqrt(SUM(dr * dr)) * sqrt(SUM(dc * dc)), 0)
             AS cosv FROM d),
    feats AS (SELECT is_b, {fexprs} FROM v),
    rf AS (SELECT {rsums} FROM feats),
    stats AS (
      SELECT sc.nr, sc.nc, inv.invr, inv.invc,
        sc.nsr / NULLIF(sc.nr, 0) AS ref_mean_norm,
        sc.nsc / NULLIF(sc.nc, 0) AS curr_mean_norm,
        cc.cosv AS centroid_cosine,
        {scale!r} * ({sq}) AS mmd2
      FROM sc CROSS JOIN inv CROSS JOIN cc CROSS JOIN rf),
    full_s AS (
      SELECT *,
        CASE WHEN ref_mean_norm != 0
               THEN abs((curr_mean_norm - ref_mean_norm) / ref_mean_norm)
             WHEN curr_mean_norm != 0 THEN 1.0 ELSE 0.0 END AS norm_shift
      FROM stats)
    SELECT 'geometry' AS family, '' AS key, 'n_vectors' AS metric,
      nr AS ref_value, nc AS curr_value, CAST(invc AS DOUBLE) AS diff,
      false AS drift_detected FROM full_s
    UNION ALL
    SELECT 'geometry', '', 'centroid_cosine', NULL,
      ROUND(centroid_cosine, {ROUND}),
      ROUND(1.0 - ROUND(centroid_cosine, {ROUND}), {ROUND}),
      ROUND(centroid_cosine, {ROUND}) < 0.9999 FROM full_s
    UNION ALL
    SELECT 'geometry', '', 'mean_norm', ROUND(ref_mean_norm, {ROUND}),
      ROUND(curr_mean_norm, {ROUND}), ROUND(norm_shift, {ROUND}),
      ROUND(norm_shift, {ROUND}) > 0.1 FROM full_s
    UNION ALL
    SELECT 'mmd', '', 'mmd2', NULL, NULL, ROUND(mmd2, {ROUND}),
      ROUND(mmd2, {ROUND}) > 0.01 FROM full_s"""


def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private aggregate release
    (operators.constraints.dp_release): the (segment, nation) customer
    panel published with Laplace noise — count + account-balance sum
    clipped to [0, 1000], budget eps=1.0 split over the two statistics.
    Noise is the keyed md5 PRF (portable inverse-CDF Laplace), so the
    oracle replays the release bit-for-bit; the privacy guarantee
    assumes the seed is secret (documented in the operator)."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        dp_release,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return _round_cols(
        dp_release(
            cust,
            ["c_mktsegment", "c_nationkey"],
            epsilon=1.0,
            value_col="c_acctbal",
            clip_lo=0.0,
            clip_hi=1000.0,
        ),
        ["noisy_count", "noisy_sum"],
    )


def _dp_release_sql() -> str:
    # eps splits 0.5 + 0.5: count scale 1/0.5 = 2, sum scale
    # 1000/0.5 = 2000; u = ((md5_60(key|salt) % 1e6) + 0.5)/1e6 - 0.5
    lap = (
        "(-({b})) * sign({u}) * ln(1 - 2 * abs({u}))"
    )
    u = (
        "((('0x'||substring(md5(k || '|dp|{t}'), 1, 15))::BIGINT"
        " % 1000000 + 0.5) / 1000000.0 - 0.5)"
    )
    uc, us = u.format(t="c"), u.format(t="s")
    return f"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey,
        CAST(COUNT(*) AS DOUBLE) AS n,
        SUM(LEAST(GREATEST(CAST(c_acctbal AS DOUBLE), 0.0), 1000.0)) AS s
      FROM customer GROUP BY 1, 2),
    k AS (
      SELECT *, COALESCE(c_mktsegment, ' ') || '|' ||
                COALESCE(CAST(c_nationkey AS VARCHAR), ' ') AS k
      FROM g)
    SELECT c_mktsegment, c_nationkey,
      ROUND(n + {lap.format(b="2.0", u=uc)}, {ROUND}) AS noisy_count,
      ROUND(s + {lap.format(b="2000.0", u=us)}, {ROUND}) AS noisy_sum
    FROM k"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk profile over the customer quasi-identifier
    set (nation, market segment): power-of-two class-size histogram plus
    the rows-below-k=5 at-risk summary row — one groupBy on the QI tuple,
    O(classes) rows after."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        k_anonymity_profile,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = k_anonymity_profile(cust, ["c_nationkey", "c_mktsegment"], k=5)
    return _round_cols(out, ["row_share"])


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity over customer nations (sensitive attribute:
    market segment, l=3): classes per distinct-sensitive-count plus the
    below-l homogeneity-risk summary row."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        l_diversity_profile,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = l_diversity_profile(cust, ["c_nationkey"], "c_mktsegment", l=3)
    return _round_cols(out, ["row_share"])


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over customer nations (sensitive attribute: market
    segment, t=0.1): per-class total-variation distance to the global
    segment distribution, reduced to fixed-width tvd buckets plus the
    tvd>=t at-risk summary row — exact integer EMD arithmetic, so the
    bucket cut never depends on float summation order."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        t_closeness_profile,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = t_closeness_profile(cust, ["c_nationkey"], "c_mktsegment", t=0.1)
    return _round_cols(out, ["row_share"])


def _t_closeness_sql(units: int = 2, nb: int = 20) -> str:
    return f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment AS s, CAST(COUNT(*) AS BIGINT) AS a
      FROM customer GROUP BY 1, 2),
    gfreq AS (
      SELECT s, CAST(SUM(a) AS BIGINT) AS g FROM cells GROUP BY 1),
    gtot AS (SELECT CAST(SUM(g) AS BIGINT) AS g_total FROM gfreq),
    ct AS (
      SELECT c_nationkey, CAST(SUM(a) AS BIGINT) AS class_n
      FROM cells GROUP BY 1),
    per_cell AS (
      SELECT c.c_nationkey,
        abs(CAST(c.a AS HUGEINT) * CAST(gt.g_total AS HUGEINT)
            - CAST(gl.g AS HUGEINT) * CAST(tc.class_n AS HUGEINT)) AS term,
        gl.g AS g, tc.class_n AS class_n, gt.g_total AS g_total
      FROM cells c
      JOIN gfreq gl ON c.s IS NOT DISTINCT FROM gl.s
      CROSS JOIN gtot gt
      JOIN ct tc ON c.c_nationkey IS NOT DISTINCT FROM tc.c_nationkey),
    cls AS (
      SELECT CAST(SUM(term) AS HUGEINT)
          + (CAST(MAX(g_total) AS HUGEINT) - CAST(SUM(g) AS HUGEINT))
            * CAST(MAX(class_n) AS HUGEINT) AS num,
        CAST(MAX(class_n) AS HUGEINT) AS class_n,
        CAST(MAX(g_total) AS HUGEINT) AS g_total
      FROM per_cell GROUP BY c_nationkey),
    b AS (
      SELECT least(CAST((num * {nb})
                        // (CAST(2 AS HUGEINT) * class_n * g_total)
                        AS BIGINT), {nb - 1}) AS b,
        class_n
      FROM cls),
    bucketed AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_classes,
        CAST(SUM(class_n) AS BIGINT) AS n_rows
      FROM b GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(class_n) AS BIGINT) AS total_rows,
        CAST(SUM(CASE WHEN b >= {units} THEN 1 ELSE 0 END) AS BIGINT)
          AS risk_classes,
        CAST(SUM(CASE WHEN b >= {units} THEN class_n ELSE 0 END) AS BIGINT)
          AS risk_rows
      FROM b)
    SELECT CAST(b AS DOUBLE) / {nb} AS tvd_lo,
      CAST(b + 1 AS DOUBLE) / {nb} AS tvd_hi,
      n_classes, n_rows,
      ROUND(n_rows / CAST(total_rows AS DOUBLE), {ROUND}) AS row_share
    FROM bucketed CROSS JOIN tot
    UNION ALL
    SELECT CAST(NULL AS DOUBLE), CAST({units} AS DOUBLE) / {nb},
      risk_classes, risk_rows,
      ROUND(risk_rows / CAST(total_rows AS DOUBLE), {ROUND})
    FROM tot"""


def _l_diversity_sql(l: int = 3) -> str:
    return f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2),
    cl AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS diversity,
        CAST(SUM(n) AS BIGINT) AS n_rows
      FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        CAST(SUM(CASE WHEN diversity < {l} THEN 1 ELSE 0 END) AS BIGINT)
          AS risk_classes,
        CAST(SUM(CASE WHEN diversity < {l} THEN n_rows ELSE 0 END) AS BIGINT)
          AS risk_rows
      FROM cl),
    d AS (
      SELECT diversity, CAST(COUNT(*) AS BIGINT) AS n_classes,
        CAST(SUM(n_rows) AS BIGINT) AS n_rows
      FROM cl GROUP BY 1)
    SELECT diversity, n_classes, n_rows,
      ROUND(n_rows / CAST(total_rows AS DOUBLE), {ROUND}) AS row_share
    FROM d CROSS JOIN tot
    UNION ALL
    SELECT CAST(NULL AS BIGINT), risk_classes, risk_rows,
      ROUND(risk_rows / CAST(total_rows AS DOUBLE), {ROUND})
    FROM tot"""


def q_embedding_report_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector nightly as ONE frame: the vec_id%3==0 batch vetted
    against both additive states (geometry/shape via embedding_state,
    topic mix via cluster-share over the first-8 centroids) — the
    increment sibling of embedding_report; prior embeddings never
    re-read."""
    from pyspark_data_drift_detector_spark.embedding_pipeline import (
        embedding_report_incremental,
    )
    from pyspark_data_drift_detector_spark.operators.similarity import (
        cluster_share_state,
        embedding_state,
    )

    emb = _embeddings(spark, sf_dir)
    prior = emb.filter("vec_id % 3 != 0")
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    return embedding_report_incremental(
        emb.filter("vec_id % 3 = 0"),
        embedding_state(prior, dim=64),
        cluster_share_state(prior, cents),
        cents,
        dim=64,
        cosine_threshold=0.9999,
    )


def _embedding_report_incremental_sql() -> str:
    """Union of the two vector increment-member oracles: the
    geometry/mmd rows verbatim, the cluster panel melted to the report
    schema. The cluster member's state side counts %3!=0 vectors, so its
    replay IS the batch-vs-state panel."""
    return f"""
    {_embedding_incremental_sql()}
    UNION ALL
    SELECT 'topic_mix' AS family,
      CASE WHEN cluster_id IS NULL THEN '<null>'
           ELSE CAST(cluster_id AS VARCHAR) END AS key,
      'cluster_share' AS metric,
      ref_share AS ref_value, curr_share AS curr_value,
      share_abs_diff AS diff, drift_detected
    FROM ({_cluster_balance_incremental_sql()}) cbi"""


def _k_anonymity_sql(k: int = 5, max_buckets: int = 30) -> str:
    return f"""
    WITH cl AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_rows,
        CAST(SUM(CASE WHEN n < {k} THEN 1 ELSE 0 END) AS BIGINT)
          AS risk_classes,
        CAST(SUM(CASE WHEN n < {k} THEN n ELSE 0 END) AS BIGINT)
          AS risk_rows
      FROM cl),
    b AS (
      SELECT LEAST(CAST(floor(log2(n)) AS INT), {max_buckets - 1}) AS b,
        CAST(COUNT(*) AS BIGINT) AS n_classes,
        CAST(SUM(n) AS BIGINT) AS n_rows
      FROM cl GROUP BY 1)
    SELECT CAST(pow(2, b) AS BIGINT) AS class_size_lo,
      CAST(pow(2, b + 1) - 1 AS BIGINT) AS class_size_hi,
      n_classes, n_rows,
      ROUND(n_rows / CAST(total_rows AS DOUBLE), {ROUND}) AS row_share
    FROM b CROSS JOIN tot
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST({k - 1} AS BIGINT),
      risk_classes, risk_rows,
      ROUND(risk_rows / CAST(total_rows AS DOUBLE), {ROUND})
    FROM tot"""


# Literal orthonormal components (k=3, p=4) shared VERBATIM by the Spark
# query and the DuckDB oracle: with the eigen-fit factored out (it is
# deterministic numpy math, unit-tested in test_drift.py), every remaining
# step — standardize with data-derived means/stds, error = ‖z‖²−‖Pᵀz‖²,
# ref-side μ+3σ bound, anomaly rates and the decision ladder — is plain
# SQL arithmetic both engines replay identically.
PCA_COLUMNS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
PCA_COMPONENTS = [
    [0.5, 0.5, 0.5, 0.5],
    [0.5, -0.5, 0.5, -0.5],
    [0.5, 0.5, -0.5, -0.5],
]


def q_pca_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15: PCA reconstruction-error anomaly drift. The scoring path
    (scaler fit on ref, projection, μ+3σ threshold, rate comparison) runs
    with literal orthonormal components so the DuckDB oracle can replay it
    end-to-end; the eigen-fit itself is unit-verified."""
    from pyspark_data_drift_detector_spark.operators.anomaly import pca_anomaly_drift

    ref, curr = _split(_lineitem(spark, sf_dir))
    res = pca_anomaly_drift(ref, curr, PCA_COLUMNS, k=3, components=PCA_COMPONENTS)
    row = (
        res["status"],
        bool(res.get("is_significant", False)),
        int(res.get("ref_anomaly_count", 0)),
        int(res.get("curr_anomaly_count", 0)),
        round(float(res.get("ref_anomaly_ratio", 0.0)), ROUND),
        round(float(res.get("curr_anomaly_ratio", 0.0)), ROUND),
        round(float(res.get("error_change", 0.0)), ROUND),
        res.get("severity", ""),
    )
    return spark.createDataFrame(
        [row],
        "status string, is_significant boolean, ref_anomaly_count long, "
        "curr_anomaly_count long, ref_anomaly_ratio double, curr_anomaly_ratio double, "
        "error_change double, severity string",
    )


def q_pca_contributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column share of the PCA reconstruction residual per side —
    which coordinate's relationship to the others broke. Same literal
    components as pca_anomaly; scaler fit on ref replayed in SQL."""
    from pyspark_data_drift_detector_spark.operators.anomaly import (
        pca_error_contributions,
    )

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = pca_error_contributions(
        ref, curr, PCA_COLUMNS, k=3, components=PCA_COMPONENTS
    )
    return _round_cols(
        out,
        ["ref_contrib", "curr_contrib", "ref_share", "curr_share",
         "share_abs_diff"],
    )


def _pca_contributions_sql() -> str:
    p = len(PCA_COLUMNS)
    comps = PCA_COMPONENTS[:3]
    k = len(comps)
    valid = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan(CAST({c} AS DOUBLE))" for c in PCA_COLUMNS
    )
    sel = ", ".join(f"CAST({c} AS DOUBLE) AS c{i}" for i, c in enumerate(PCA_COLUMNS))
    fit = ", ".join(
        f"AVG(c{i}) AS mu{i}, STDDEV_SAMP(c{i}) AS sd{i}" for i in range(p)
    )
    zs = ", ".join(
        f"CASE WHEN sd{i} > 0 THEN (c{i} - mu{i}) / sd{i} ELSE 0.0 END AS z{i}"
        for i in range(p)
    )
    dots = ", ".join(
        " + ".join(f"({float(w)!r}) * z{i}" for i, w in enumerate(comp)) + f" AS d{j}"
        for j, comp in enumerate(comps)
    )
    zlist = ", ".join(f"z{i}" for i in range(p))
    r2 = ", ".join(
        "(z{i} - ({recon})) * (z{i} - ({recon})) AS r2_{i}".format(
            i=i,
            recon=" + ".join(
                f"({float(comps[m][i])!r}) * d{m}" for m in range(k)
            ),
        )
        for i in range(p)
    )
    means = ", ".join(f"AVG(r2_{i}) AS m{i}" for i in range(p))

    def side_cte(name: str, parity: int) -> str:
        return f"""{name} AS (
      SELECT {means} FROM (
        SELECT {r2} FROM (
          SELECT {dots}, {zlist} FROM (
            SELECT {zs} FROM (
              SELECT {sel} FROM lineitem
              WHERE l_orderkey % 2 = {parity} AND {valid}
            ) CROSS JOIN fit))))"""

    rows = " UNION ALL ".join(
        """SELECT '{c}' AS column_name,
          ROUND(r.m{i}, {ROUND}) AS ref_contrib,
          ROUND(cu.m{i}, {ROUND}) AS curr_contrib,
          ROUND(r.m{i} / greatest({tot_r}, 1e-300), {ROUND}) AS ref_share,
          ROUND(cu.m{i} / greatest({tot_c}, 1e-300), {ROUND}) AS curr_share,
          ROUND(abs(cu.m{i} / greatest({tot_c}, 1e-300)
                    - r.m{i} / greatest({tot_r}, 1e-300)), {ROUND})
            AS share_abs_diff
        FROM rfit r CROSS JOIN cfit cu""".format(
            c=c, i=i, ROUND=ROUND,
            tot_r=" + ".join(f"coalesce(r.m{j}, 0.0)" for j in range(p)),
            tot_c=" + ".join(f"coalesce(cu.m{j}, 0.0)" for j in range(p)),
        )
        for i, c in enumerate(PCA_COLUMNS)
    )
    return f"""
    WITH fit AS (
      SELECT {fit} FROM (
        SELECT {sel} FROM lineitem WHERE l_orderkey % 2 = 0 AND {valid})),
    {side_cte("rfit", 0)},
    {side_cte("cfit", 1)}
    {rows}"""


def q_text_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level text-quality drift over the even/odd doc split: mean
    token-count/quality shifts + language-mix JS, composed from the
    text_stats/language_id expressions — fully SQL-replayable."""
    from pyspark_data_drift_detector_spark.operators.text import text_quality_drift

    docs = _documents(spark, sf_dir)
    out = text_quality_drift(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    )
    return _round_cols(
        out.select(
            "ref_n",
            "curr_n",
            "ref_mean_tokens",
            "curr_mean_tokens",
            "token_shift",
            "ref_mean_quality",
            "curr_mean_quality",
            "quality_shift",
            "lang_js",
            "drift_detected",
        ),
        [
            "ref_mean_tokens", "curr_mean_tokens", "token_shift",
            "ref_mean_quality", "curr_mean_quality", "quality_shift", "lang_js",
        ],
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift over the even/odd vec_id split:
    centroid cosine, mean-norm shift, max per-dimension shift — one
    posexplode + two tiny aggregates, SQL-replayable."""
    from pyspark_data_drift_detector_spark.operators.similarity import embedding_drift

    emb = _embeddings(spark, sf_dir)
    out = embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)
    )
    return _round_cols(
        out.select(
            "n_dims",
            "ref_n",
            "curr_n",
            "centroid_cosine",
            "ref_mean_norm",
            "curr_mean_norm",
            "norm_shift",
            "max_dim_shift",
            "drift_detected",
        ),
        ["centroid_cosine", "ref_mean_norm", "curr_mean_norm", "norm_shift", "max_dim_shift"],
    )


def q_temporal_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal drift (the analyzer the reference's architecture doc
    promises but never implements): mean-time shift, range change,
    day-of-week JS, null drift over the lineitem ship-date split — one
    side-tagged wide aggregate, fully SQL-replayable."""
    from pyspark_data_drift_detector_spark.operators.temporal import temporal_drift

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ref, curr = _split(_lineitem(spark, sf_dir))
    out = temporal_drift(ref, curr, ["l_shipdate"])
    return _round_cols(
        out.select(
            "column_name",
            "ref_n",
            "curr_n",
            "ref_min",
            "ref_max",
            "curr_min",
            "curr_max",
            "mean_shift_days",
            "range_change",
            "null_ratio_change",
            "dow_js",
            "drift_detected",
        ),
        [
            "ref_min", "ref_max", "curr_min", "curr_max",
            "mean_shift_days", "range_change", "null_ratio_change", "dow_js",
        ],
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection: one doc per near-dup cluster (min id) plus all
    unclustered docs — a single anti-join against the green dedup_clusters
    labels (md5 MinHash family so the oracle replays the whole chain)."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_survivors,
        minhash_lsh_pairs,
        neardup_clusters,
    )

    docs = _documents(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.3, hash_family="md5")
    kept = dedup_survivors(docs, neardup_clusters(pairs))
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_dedup_survivors_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-policy survivor selection: keep the LONGEST document per
    near-dup cluster (n_chars score, min-id tiebreak) plus all
    unclustered docs — max_by over the cluster-score join, no
    per-cluster sort window (md5 MinHash family for oracle replay)."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_survivors_by,
        minhash_lsh_pairs,
        neardup_clusters,
    )

    docs = _documents(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.3, hash_family="md5")
    kept = dedup_survivors_by(docs, neardup_clusters(pairs), score_col="n_chars")
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"))


def _dedup_survivors_best_sql(threshold: float = 0.3) -> str:
    """Winner per cluster = rank 1 by (n_chars DESC, doc_id ASC) over the
    recursive-CTE transitive closure, plus every unclustered doc."""
    return f"""
    WITH c AS ({_dedup_clusters_sql(threshold)}),
    scored AS (
      SELECT c.id, c.cluster_id, d.n_chars
      FROM c JOIN documents d ON c.id = d.doc_id),
    winners AS (
      SELECT id FROM (
        SELECT id, ROW_NUMBER() OVER (PARTITION BY cluster_id
                 ORDER BY n_chars DESC, id ASC) AS rn
        FROM scored) WHERE rn = 1),
    clustered AS (SELECT id FROM c)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id
    FROM documents d
    WHERE d.doc_id IN (SELECT id FROM winners)
       OR d.doc_id NOT IN (SELECT id FROM clustered)"""


def q_streaming_drift_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static drift alerts, batch twin: the SAME windowed_profile +
    streaming_drift_alerts functions the streaming path runs (pure
    DataFrame transforms), with the baseline = per-event_type global
    profile. Alert = |mean − ref_mean|/|ref_mean| > 0.1."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import (
        streaming_drift_alerts,
        windowed_profile,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = load_events(spark, sf_dir)
    prof = windowed_profile(events, window_duration="1 day")
    baseline = events.groupBy("event_type").agg(
        F.avg("value").alias("mean"), F.stddev("value").alias("stddev")
    )
    alerts = streaming_drift_alerts(prof, baseline)
    return _round_cols(
        alerts.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "mean",
            "ref_mean",
            "mean_rel_diff",
            "drift_alert",
        ),
        ["mean", "ref_mean", "mean_rel_diff"],
    )


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------

def _profile_sql_one(col: str, table: str, where: str = "TRUE") -> str:
    return f"""
    SELECT '{col}' AS column_name,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT({col}) AS BIGINT) AS n,
      CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS null_count,
      ROUND(CAST(MIN({col}) AS DOUBLE), {ROUND}) AS min,
      ROUND(CAST(MAX({col}) AS DOUBLE), {ROUND}) AS max,
      ROUND(CAST(AVG({col}) AS DOUBLE), {ROUND}) AS mean,
      ROUND(CAST(STDDEV_SAMP({col}) AS DOUBLE), {ROUND}) AS stddev,
      ROUND(CAST(quantile_cont({col}, 0.25) AS DOUBLE), {ROUND}) AS p25,
      ROUND(CAST(quantile_cont({col}, 0.50) AS DOUBLE), {ROUND}) AS p50,
      ROUND(CAST(quantile_cont({col}, 0.75) AS DOUBLE), {ROUND}) AS p75
    FROM {table} WHERE {where}"""


def _profile_cte(
    name: str,
    where: str,
    cols: list[str] | None = None,
    src: str = "lineitem",
) -> str:
    """Un-rounded per-column profile CTE for drift math. ``src`` may be
    any FROM-able SQL (a table name or a parenthesized subquery — DuckDB
    accepts ``FROM (WITH ... SELECT ...)``), so the same replay serves
    lineitem and derived feature frames (``image_feature_drift``,
    ``bpe_fertility_drift``). A derived subquery is hoisted into ONE
    MATERIALIZED side CTE — the per-column UNION branches would
    otherwise each re-instantiate it (DuckDB does not CSE a repeated
    FROM-subquery; the fertility oracle's recursive fit ran 6x before
    this)."""
    prefix = ""
    if src.lstrip().startswith("("):
        prefix = f"{name}_src AS MATERIALIZED {src},\n    "
        src = f"{name}_src"
    parts = [
        f"""SELECT '{c}' AS column_name,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count,
          CAST(MIN({c}) AS DOUBLE) AS mn,
          CAST(MAX({c}) AS DOUBLE) AS mx,
          CAST(AVG({c}) AS DOUBLE) AS mean,
          CAST(STDDEV_SAMP({c}) AS DOUBLE) AS stddev,
          CAST(quantile_cont({c}, 0.25) AS DOUBLE) AS p25,
          CAST(quantile_cont({c}, 0.50) AS DOUBLE) AS p50,
          CAST(quantile_cont({c}, 0.75) AS DOUBLE) AS p75
        FROM {src} AS __src WHERE {where}"""
        for c in (cols if cols is not None else LINEITEM_NUMERIC)
    ]
    return f"{prefix}{name} AS ({' UNION ALL '.join(parts)})"


_REL = (
    "CASE WHEN r.{rv} = 0 THEN (CASE WHEN c.{cv} <> 0 THEN 1.0 ELSE 0.0 END) "
    "ELSE (c.{cv} - r.{rv}) / ABS(r.{rv}) END"
)


def _categorical_exact_p_sql() -> str:
    import math as _math

    cols = ["o_orderstatus", "o_orderpriority"]
    sf_terms = " ".join(
        f"WHEN dof = {2 * k} THEN EXP(-chi/2) * "
        f"({' + '.join(f'POW(chi/2, {i})/{_math.factorial(i)}' for i in range(k))})"
        for k in range(1, 7)
    )
    sf = f"GREATEST(0.0, LEAST(1.0, CASE WHEN chi <= 0 THEN 1.0 {sf_terms} END))"
    return f"""
    WITH refc AS ({_freq_sql(cols, 'orders', 'o_orderkey % 2 = 0')}),
         currc AS ({_freq_sql(cols, 'orders', 'o_orderkey % 2 = 1')}),
         aligned AS (
           SELECT COALESCE(r.column_name, c.column_name) AS column_name,
                  COALESCE(r.cnt, 0) AS ref_cnt, COALESCE(c.cnt, 0) AS curr_cnt
           FROM refc r FULL OUTER JOIN currc c
             ON r.column_name = c.column_name AND r.value = c.value),
         chi2 AS (
           SELECT column_name, SUM(contrib) AS chi, CAST(COUNT(*) - 1 AS INT) AS dof
           FROM (
             SELECT column_name,
               CASE WHEN exp_ref >= 5 AND exp_curr >= 5 THEN
                 POW(ref_cnt - exp_ref, 2)/exp_ref + POW(curr_cnt - exp_curr, 2)/exp_curr
               ELSE 0 END AS contrib
             FROM (
               SELECT column_name, ref_cnt, curr_cnt,
                 SUM(ref_cnt) OVER (PARTITION BY column_name) * (ref_cnt + curr_cnt)
                   / (SUM(ref_cnt) OVER (PARTITION BY column_name) + SUM(curr_cnt) OVER (PARTITION BY column_name)) AS exp_ref,
                 SUM(curr_cnt) OVER (PARTITION BY column_name) * (ref_cnt + curr_cnt)
                   / (SUM(ref_cnt) OVER (PARTITION BY column_name) + SUM(curr_cnt) OVER (PARTITION BY column_name)) AS exp_curr
               FROM aligned
             )
           ) GROUP BY column_name)
    SELECT column_name, ROUND(chi, {ROUND}) AS chi_square,
      dof AS degrees_of_freedom,
      ROUND({sf}, {ROUND}) AS p_value
    FROM chi2"""


def _complex_profile_sql() -> str:
    """Replays q_complex_profile's derived-column construction rules: each
    metric reduces to a conditional aggregate over the defining conditions."""
    specs = [
        (
            "tok_arr",
            "array",
            "(d.n_chars % 7 <> 0 AND d.n_chars % 5 = 0)",
            "CASE WHEN d.n_chars % 7 = 0 THEN 0 WHEN d.n_chars % 5 = 0 THEN NULL "
            "ELSE len(string_split_regex(trim(d.text), '\\s+')) END",
        ),
        ("meta_struct", "struct", "(d.n_chars % 3 = 0)", None),
        ("attr_map", "map", "(d.n_chars % 4 = 0)", "CASE WHEN d.n_chars % 4 = 0 THEN NULL ELSE 2 END"),
    ]
    parts = []
    for name, kind, null_cond, size_expr in specs:
        sized_aggs = (
            f"""CAST(COUNT(*) FILTER (d.doc_id % 2 = 0 AND ({size_expr}) = 0) AS DOUBLE)
                  / GREATEST(COUNT(*) FILTER (d.doc_id % 2 = 0), 1) AS r_empty,
                CAST(COUNT(*) FILTER (d.doc_id % 2 = 1 AND ({size_expr}) = 0) AS DOUBLE)
                  / GREATEST(COUNT(*) FILTER (d.doc_id % 2 = 1), 1) AS c_empty,
                AVG(CASE WHEN d.doc_id % 2 = 0 THEN {size_expr} END) AS r_size,
                AVG(CASE WHEN d.doc_id % 2 = 1 THEN {size_expr} END) AS c_size"""
            if size_expr
            else "NULL::DOUBLE AS r_empty, NULL::DOUBLE AS c_empty, "
            "NULL::DOUBLE AS r_size, NULL::DOUBLE AS c_size"
        )
        parts.append(f"""
        SELECT '{name}' AS column_name, '{kind}' AS complex_kind,
          CAST(COUNT(*) FILTER (d.doc_id % 2 = 0 AND {null_cond}) AS DOUBLE)
            / GREATEST(COUNT(*) FILTER (d.doc_id % 2 = 0), 1) AS r_null,
          CAST(COUNT(*) FILTER (d.doc_id % 2 = 1 AND {null_cond}) AS DOUBLE)
            / GREATEST(COUNT(*) FILTER (d.doc_id % 2 = 1), 1) AS c_null,
          {sized_aggs}
        FROM documents d""")
    return f"""
    WITH m AS ({' UNION ALL '.join(parts)})
    SELECT column_name, complex_kind,
      ROUND(r_null, {ROUND}) AS ref_null_ratio,
      ROUND(r_empty, {ROUND}) AS ref_empty_ratio,
      ROUND(r_size, {ROUND}) AS ref_avg_size,
      ROUND(c_null, {ROUND}) AS curr_null_ratio,
      ROUND(c_empty, {ROUND}) AS curr_empty_ratio,
      ROUND(c_size, {ROUND}) AS curr_avg_size,
      ROUND(ABS(c_null - r_null), {ROUND}) AS null_ratio_change,
      ROUND(ABS(c_empty - r_empty), {ROUND}) AS empty_ratio_change,
      ROUND(CASE WHEN r_size IS NOT NULL AND r_size <> 0
            THEN ABS(c_size - r_size) / ABS(r_size) END, {ROUND}) AS avg_size_rel_change,
      (ABS(c_null - r_null) >= 0.1
        OR COALESCE(ABS(c_empty - r_empty) >= 0.1, FALSE)
        OR COALESCE(CASE WHEN r_size IS NOT NULL AND r_size <> 0
             THEN ABS(c_size - r_size) / ABS(r_size) END >= 0.2, FALSE)) AS drift_detected
    FROM m"""


def _js_full_support_sql() -> str:
    cols = ["p_type", "p_brand"]
    return f"""
    WITH refc AS ({_freq_sql(cols, 'part', 'p_partkey % 2 = 0')}),
         currc AS ({_freq_sql(cols, 'part', 'p_partkey % 2 = 1')}),
         aligned AS (
           SELECT COALESCE(r.column_name, c.column_name) AS column_name,
                  COALESCE(r.freq, 0.0) AS p, COALESCE(c.freq, 0.0) AS q
           FROM refc r FULL OUTER JOIN currc c
             ON r.column_name = c.column_name AND r.value = c.value)
    SELECT column_name,
      ROUND(SQRT(GREATEST(0.0, (
        SUM(CASE WHEN p > 0 AND (p+q)/2 > 0 THEN p * LOG2(p / ((p+q)/2)) ELSE 0 END) +
        SUM(CASE WHEN q > 0 AND (p+q)/2 > 0 THEN q * LOG2(q / ((p+q)/2)) ELSE 0 END)
      ) / 2)), {ROUND}) AS js_distance
    FROM aligned GROUP BY column_name"""


def _numeric_drift_rowpath_sql() -> str:
    """SQL replay of the M17 row-path score: each component NULL when the
    reference's imperative code would not append it, mean over present ones."""
    eps = "1e-10"
    profile = lambda name, where: f"""{name} AS ({' UNION ALL '.join(
        f'''SELECT '{c}' AS column_name,
          CAST(COUNT({c}) AS BIGINT) AS n,
          CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count,
          CAST(MIN({c}) AS DOUBLE) AS mn, CAST(MAX({c}) AS DOUBLE) AS mx,
          COALESCE(CAST(AVG({c}) AS DOUBLE), 0.0) AS mean,
          COALESCE(CAST(STDDEV_SAMP({c}) AS DOUBLE), 0.0) AS sd,
          CAST(quantile_cont({c}, 0.25) AS DOUBLE) AS p25,
          COALESCE(CAST(quantile_cont({c}, 0.50) AS DOUBLE), 0.0) AS p50,
          CAST(quantile_cont({c}, 0.75) AS DOUBLE) AS p75,
          CAST(quantile_cont({c}, 0.95) AS DOUBLE) AS p95,
          CAST(quantile_cont({c}, 0.99) AS DOUBLE) AS p99
        FROM lineitem WHERE {where}''' for c in LINEITEM_NUMERIC)})"""
    tail = lambda p: (
        f"CASE WHEN r.{p} IS NOT NULL AND c.{p} IS NOT NULL AND r.sd > {eps} "
        f"THEN LEAST(ABS(c.{p} - r.{p}) / r.sd, 1.0) END"
    )
    comps = f"""comps AS (
      SELECT r.column_name,
        ABS(CASE WHEN c.n > 0 THEN CAST(c.null_count AS DOUBLE)/c.n ELSE 0.0 END
          - CASE WHEN r.n > 0 THEN CAST(r.null_count AS DOUBLE)/r.n ELSE 0.0 END) AS c_null,
        LEAST(ABS(c.mean - r.mean) / GREATEST(r.sd, {eps}), 1.0) AS c_mean,
        CASE WHEN c.sd > {eps}
          THEN LEAST(ABS(LN(c.sd / GREATEST(r.sd, {eps}))) / LN(2), 1.0) END AS c_std,
        LEAST(ABS(c.p50 - r.p50) / GREATEST(r.sd, {eps}), 1.0) AS c_med,
        CASE WHEN r.mn IS NOT NULL AND r.mx IS NOT NULL
              AND c.mn IS NOT NULL AND c.mx IS NOT NULL THEN
          CASE WHEN ABS(r.mx - r.mn) > {eps} AND (c.mx - c.mn) > {eps}
            THEN LEAST(ABS(LN(((c.mx - c.mn) + {eps}) / ((r.mx - r.mn) + {eps}))) / LN(2), 1.0)
          WHEN ABS(r.mx - r.mn) <= {eps} AND ABS(c.mx - c.mn) > {eps} THEN 1.0 END
        END AS c_rng,
        CASE WHEN r.p25 IS NOT NULL AND r.p75 IS NOT NULL AND c.p25 IS NOT NULL
              AND c.p75 IS NOT NULL AND ABS(r.p75 - r.p25) > {eps} THEN
          CASE WHEN (c.p75 - c.p25) > {eps}
            THEN LEAST(ABS(LN(((c.p75 - c.p25) + {eps}) / ((r.p75 - r.p25) + {eps}))) / LN(2), 1.0)
          ELSE 1.0 END
        END AS c_iqr,
        {tail('p95')} AS c_p95,
        {tail('p99')} AS c_p99
      FROM ref r JOIN curr c USING (column_name))"""
    names = ["c_null", "c_mean", "c_std", "c_med", "c_rng", "c_iqr", "c_p95", "c_p99"]
    total = " + ".join(f"COALESCE({n}, 0.0)" for n in names)
    cnt = " + ".join(f"(CASE WHEN {n} IS NOT NULL THEN 1 ELSE 0 END)" for n in names)
    return f"""
    WITH {profile('ref', 'l_orderkey % 2 = 0')},
         {profile('curr', 'l_orderkey % 2 = 1')},
         {comps},
         scored AS (
           SELECT column_name,
             GREATEST(0.0, LEAST(1.0,
               COALESCE(({total}) / NULLIF({cnt}, 0), 0.0))) AS s
           FROM comps)
    SELECT column_name, ROUND(s, {ROUND}) AS drift_score,
      CASE WHEN s < 0.1 THEN 'None' WHEN s < 0.25 THEN 'Low'
           WHEN s < 0.5 THEN 'Medium' WHEN s < 0.75 THEN 'High'
           ELSE 'Critical' END AS drift_severity
    FROM scored"""


def _numeric_drift_body_sql(ref_cte: str, curr_cte: str) -> str:
    """The weighted-score numeric-drift replay over any pair of profile
    CTEs named ``ref``/``curr`` (:func:`_profile_cte` shape) — shared by
    the lineitem oracle and the image-feature oracle."""
    rel = {
        "mean": _REL.format(rv="mean", cv="mean"),
        "median": _REL.format(rv="p50", cv="p50"),
        "std": _REL.format(rv="stddev", cv="stddev"),
        "iqr": (
            "CASE WHEN (r.p75 - r.p25) = 0 THEN (CASE WHEN (c.p75 - c.p25) <> 0 THEN 1.0 ELSE 0.0 END) "
            "ELSE ((c.p75 - c.p25) - (r.p75 - r.p25)) / ABS(r.p75 - r.p25) END"
        ),
        "range": (
            "CASE WHEN (r.mx - r.mn) = 0 THEN (CASE WHEN (c.mx - c.mn) <> 0 THEN 1.0 ELSE 0.0 END) "
            "ELSE ((c.mx - c.mn) - (r.mx - r.mn)) / ABS(r.mx - r.mn) END"
        ),
    }
    null_diff = "(CAST(c.null_count AS DOUBLE)/c.n_rows - CAST(r.null_count AS DOUBLE)/r.n_rows)"
    score = (
        f"LEAST(1.0, 0.25*ABS({rel['mean']}) + 0.2*ABS({rel['median']}) + 0.15*ABS({rel['std']})"
        f" + 0.15*ABS({rel['iqr']}) + 0.1*ABS({null_diff}) + 0.15*ABS({rel['range']}))"
    )
    detected = (
        f"(ABS({rel['mean']}) > 0.05 OR ABS({rel['median']}) > 0.05 OR ABS({rel['std']}) > 0.1"
        f" OR ABS({rel['iqr']}) > 0.1 OR ABS({null_diff}) > 0.005 OR ABS({rel['range']}) > 0.1)"
    )
    return f"""
    WITH {ref_cte},
         {curr_cte}
    SELECT r.column_name,
      ROUND({rel['mean']}, {ROUND}) AS mean_relative_diff,
      ROUND({rel['median']}, {ROUND}) AS median_relative_diff,
      ROUND({rel['std']}, {ROUND}) AS std_dev_relative_diff,
      ROUND({rel['iqr']}, {ROUND}) AS iqr_relative_diff,
      ROUND({rel['range']}, {ROUND}) AS range_relative_diff,
      ROUND({null_diff}, {ROUND}) AS null_diff,
      ROUND({score}, {ROUND}) AS drift_score,
      {detected} AS drift_detected
    FROM ref r JOIN curr c USING (column_name)"""


def _numeric_drift_sql() -> str:
    return _numeric_drift_body_sql(
        _profile_cte("ref", "l_orderkey % 2 = 0"),
        _profile_cte("curr", "l_orderkey % 2 = 1"),
    )


def _melt_sql(cols: list[str], table: str, where: str = "TRUE") -> str:
    parts = [
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS value FROM {table} "
        f"WHERE ({where}) AND {c} IS NOT NULL"
        for c in cols
    ]
    return " UNION ALL ".join(parts)


def _freq_sql(cols: list[str], table: str, where: str = "TRUE") -> str:
    return f"""
    SELECT column_name, value, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY column_name) AS freq
    FROM ({_melt_sql(cols, table, where)}) GROUP BY column_name, value"""


def _categorical_drift_sql() -> str:
    # chi² critical value for p=0.05 (reference's hardcoded table + tail formula)
    cv = (
        "CASE WHEN dof > 10 THEN dof + SQRT(2.0*dof) "
        "WHEN dof = 1 THEN 3.84 WHEN dof = 2 THEN 5.99 WHEN dof = 3 THEN 7.81 "
        "WHEN dof = 4 THEN 9.49 WHEN dof = 5 THEN 11.07 WHEN dof = 6 THEN 12.59 "
        "WHEN dof = 7 THEN 14.07 WHEN dof = 8 THEN 15.51 WHEN dof = 9 THEN 16.92 "
        "WHEN dof = 10 THEN 18.31 ELSE 3.84 END"
    )
    p_ladder = (
        f"CASE WHEN chi < 0.001 THEN 1.0 WHEN chi > 3*({cv}) THEN 0.001 "
        f"WHEN chi > 2*({cv}) THEN 0.01 WHEN chi > ({cv}) THEN 0.05 "
        f"ELSE LEAST(1.0, GREATEST(0.05, 1.0 - (chi / ({cv})) * 0.95)) END"
    )
    chi_score = (
        "CASE WHEN pv.p <= 0.001 THEN 1.0 WHEN pv.p <= 0.01 THEN 0.8 WHEN pv.p <= 0.05 THEN 0.6 "
        "WHEN pv.p <= 0.1 THEN 0.3 ELSE 0.0 END"
    )
    null_parts = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
          CAST(SUM(CASE WHEN l_orderkey % 2 = 1 AND {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END)
          - CAST(SUM(CASE WHEN l_orderkey % 2 = 0 AND {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS null_diff
        FROM lineitem"""
        for c in LINEITEM_CATEGORICAL
    )
    return f"""
    WITH refc AS ({_freq_sql(LINEITEM_CATEGORICAL, 'lineitem', 'l_orderkey % 2 = 0')}),
         currc AS ({_freq_sql(LINEITEM_CATEGORICAL, 'lineitem', 'l_orderkey % 2 = 1')}),
         aligned AS (
           SELECT COALESCE(r.column_name, c.column_name) AS column_name,
                  COALESCE(r.value, c.value) AS value,
                  COALESCE(r.cnt, 0) AS ref_cnt, COALESCE(c.cnt, 0) AS curr_cnt,
                  COALESCE(r.freq, 0.0) AS p, COALESCE(c.freq, 0.0) AS q
           FROM refc r FULL OUTER JOIN currc c
             ON r.column_name = c.column_name AND r.value = c.value
         ),
         js AS (
           SELECT column_name,
             SQRT(GREATEST(0.0, (
               SUM(CASE WHEN p > 0 AND (p+q)/2 > 0 THEN p * LOG2(p / ((p+q)/2)) ELSE 0 END) +
               SUM(CASE WHEN q > 0 AND (p+q)/2 > 0 THEN q * LOG2(q / ((p+q)/2)) ELSE 0 END)
             ) / 2)) AS js_distance,
             CAST(SUM(CASE WHEN ref_cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS new_categories,
             CAST(SUM(CASE WHEN curr_cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS missing_categories,
             CAST(SUM(CASE WHEN ref_cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_categories
           FROM aligned GROUP BY column_name
         ),
         chi2 AS (
           SELECT column_name, SUM(contrib) AS chi, CAST(COUNT(*) - 1 AS INT) AS dof
           FROM (
             SELECT column_name,
               CASE WHEN exp_ref >= 5 AND exp_curr >= 5 THEN
                 POW(ref_cnt - exp_ref, 2)/exp_ref + POW(curr_cnt - exp_curr, 2)/exp_curr
               ELSE 0 END AS contrib
             FROM (
               SELECT column_name, ref_cnt, curr_cnt,
                 SUM(ref_cnt) OVER (PARTITION BY column_name) * (ref_cnt + curr_cnt)
                   / (SUM(ref_cnt) OVER (PARTITION BY column_name) + SUM(curr_cnt) OVER (PARTITION BY column_name)) AS exp_ref,
                 SUM(curr_cnt) OVER (PARTITION BY column_name) * (ref_cnt + curr_cnt)
                   / (SUM(ref_cnt) OVER (PARTITION BY column_name) + SUM(curr_cnt) OVER (PARTITION BY column_name)) AS exp_curr
               FROM aligned
             )
           ) GROUP BY column_name
         ),
         pv AS (SELECT column_name, chi, dof, {p_ladder} AS p FROM chi2),
         nulls AS ({null_parts})
    SELECT js.column_name,
      ROUND(js.js_distance, {ROUND}) AS js_distance,
      ROUND(pv.chi, {ROUND}) AS chi_square,
      ROUND(pv.p, {ROUND}) AS p_value,
      ROUND(nulls.null_diff, {ROUND}) AS null_diff,
      ROUND(LEAST(1.0,
        0.4 * LEAST(1.0, js.js_distance * 4)
        + 0.3 * ({chi_score})
        + 0.1 * LEAST(1.0, ABS(nulls.null_diff) * 10)
        + 0.2 * LEAST(1.0, GREATEST(
            CAST(js.new_categories AS DOUBLE)/GREATEST(js.ref_categories, 1),
            CAST(js.missing_categories AS DOUBLE)/GREATEST(js.ref_categories, 1)) * 2)
      ), {ROUND}) AS drift_score,
      pv.dof AS degrees_of_freedom,
      js.new_categories, js.missing_categories,
      (js.js_distance > 0.03 OR pv.p < 0.05 OR ABS(nulls.null_diff) > 0.005
       OR CAST(js.new_categories AS DOUBLE)/GREATEST(js.ref_categories,1) > 0.03
       OR CAST(js.missing_categories AS DOUBLE)/GREATEST(js.ref_categories,1) > 0.03) AS drift_detected
    FROM js JOIN pv USING (column_name) JOIN nulls USING (column_name)"""


_REF_W = "l_orderkey % 2 = 0"
_CURR_W = "l_orderkey % 2 = 1"


def _quantile_shift_sql() -> str:
    cols = ["l_extendedprice", "l_quantity", "l_discount"]
    qs = [0.25, 0.5, 0.75, 0.95]
    parts = []
    for c in cols:
        for q in qs:
            parts.append(f"""
            SELECT '{c}' AS column_name, '{q}' AS quantile,
              ROUND(rq, {ROUND}) AS ref_value, ROUND(cq, {ROUND}) AS curr_value,
              ROUND(ABS(cq - rq), {ROUND}) AS abs_diff,
              ROUND(CASE WHEN rq <> 0 THEN ABS((cq - rq) / rq)
                         WHEN cq <> 0 THEN ABS(cq - rq) / GREATEST(ABS(cq), 1e-10)
                         ELSE 0 END, {ROUND}) AS rel_diff
            FROM (SELECT
              (SELECT CAST(quantile_cont({c}, {q}) AS DOUBLE) FROM lineitem WHERE {_REF_W}) AS rq,
              (SELECT CAST(quantile_cont({c}, {q}) AS DOUBLE) FROM lineitem WHERE {_CURR_W}) AS cq)""")
    return " UNION ALL ".join(parts)


def _shape_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_tax"]

    def moments(where: str, c: str) -> str:
        return (
            f"(SELECT AVG(POW({c}-mu,3))/POW(AVG(POW({c}-mu,2)),1.5) AS skew, "
            f"AVG(POW({c}-mu,4))/POW(AVG(POW({c}-mu,2)),2)-3 AS kurt "
            f"FROM lineitem CROSS JOIN (SELECT AVG({c}) AS mu FROM lineitem WHERE {where}) "
            f"WHERE {where})"
        )

    parts = []
    for c in cols:
        parts.append(f"""
        SELECT '{c}' AS column_name,
          ROUND(r.skew, {ROUND}) AS ref_skewness, ROUND(cu.skew, {ROUND}) AS curr_skewness,
          ROUND(ABS(cu.skew - r.skew), {ROUND}) AS skew_diff,
          ROUND(r.kurt, {ROUND}) AS ref_kurtosis, ROUND(cu.kurt, {ROUND}) AS curr_kurtosis,
          ROUND(ABS(cu.kurt - r.kurt), {ROUND}) AS kurt_diff,
          CASE WHEN ABS(cu.skew - r.skew) <= 0.5 THEN 'none'
               WHEN cu.skew > r.skew THEN 'more_right_skewed'
               ELSE 'more_left_skewed' END AS skew_change,
          CASE WHEN ABS(cu.kurt - r.kurt) <= 1.0 THEN 'none'
               WHEN cu.kurt > r.kurt THEN 'more_outliers'
               ELSE 'fewer_outliers' END AS kurt_change
        FROM {moments(_REF_W, c)} r CROSS JOIN {moments(_CURR_W, c)} cu""")
    return " UNION ALL ".join(parts)


def _histogram_sql() -> str:
    cols = ["l_extendedprice", "l_quantity"]
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS DOUBLE) AS v FROM lineitem WHERE {c} IS NOT NULL"
        for c in cols
    )
    return f"""
    WITH v AS ({melt}),
    m AS (SELECT column_name, MIN(v) AS mn, MAX(v) AS mx FROM v GROUP BY column_name)
    SELECT v.column_name,
      CAST(CASE WHEN m.mx = m.mn THEN 0
           ELSE LEAST(FLOOR((v.v - m.mn) / ((m.mx - m.mn) / 10)), 9) END AS INT) AS bucket,
      ROUND(m.mn + CAST(CASE WHEN m.mx = m.mn THEN 0
           ELSE LEAST(FLOOR((v.v - m.mn) / ((m.mx - m.mn) / 10)), 9) END AS INT) * (m.mx - m.mn) / 10, {ROUND}) AS lower,
      ROUND(m.mn + (CAST(CASE WHEN m.mx = m.mn THEN 0
           ELSE LEAST(FLOOR((v.v - m.mn) / ((m.mx - m.mn) / 10)), 9) END AS INT) + 1) * (m.mx - m.mn) / 10, {ROUND}) AS upper,
      CAST(COUNT(*) AS BIGINT) AS cnt
    FROM v JOIN m USING (column_name)
    GROUP BY 1, 2, 3, 4"""


def _rare_categories_sql() -> str:
    return f"""
    WITH cells AS (
      SELECT CAST(l_partkey AS VARCHAR) AS category,
        SUM(CASE WHEN {_REF_W} THEN 1 ELSE 0 END) AS ref_cnt,
        SUM(CASE WHEN {_CURR_W} THEN 1 ELSE 0 END) AS curr_cnt
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(ref_cnt) AS rt, SUM(curr_cnt) AS ct FROM cells),
    enr AS (
      SELECT category, ref_cnt, curr_cnt,
        CAST(ref_cnt AS DOUBLE) / GREATEST(rt, 1) AS ref_freq,
        CAST(curr_cnt AS DOUBLE) / GREATEST(ct, 1) AS curr_freq
      FROM cells CROSS JOIN tot),
    rare AS (
      SELECT *, CASE WHEN ref_cnt > 0 THEN CAST(curr_cnt - ref_cnt AS DOUBLE) / ref_cnt
                     WHEN curr_cnt > 0 THEN 1.0 ELSE 0.0 END AS rel_change
      FROM enr
      WHERE (ref_freq <= 0.01 AND ref_cnt >= 10) OR (curr_freq <= 0.01 AND curr_cnt >= 10))
    SELECT 'l_partkey' AS "column", category,
      CASE WHEN ref_cnt = 0 THEN 'new_rare_category'
           WHEN curr_cnt = 0 THEN 'disappeared_rare_category'
           WHEN rel_change > 0 THEN 'increased_rare_category'
           ELSE 'decreased_rare_category' END AS change_type,
      CAST(ref_cnt AS BIGINT) AS ref_count, CAST(curr_cnt AS BIGINT) AS curr_count,
      ROUND(ref_freq, {ROUND}) AS ref_freq, ROUND(curr_freq, {ROUND}) AS curr_freq,
      ROUND(rel_change, {ROUND}) AS rel_change,
      CASE WHEN ref_cnt = 0 THEN 'high' WHEN curr_cnt = 0 THEN 'high'
           WHEN rel_change > 0 THEN (CASE WHEN rel_change > 1.0 THEN 'high' ELSE 'medium' END)
           ELSE (CASE WHEN ABS(rel_change) > 0.5 THEN 'high' ELSE 'medium' END) END AS severity
    FROM rare
    WHERE (ABS(rel_change) >= 0.3 OR ref_cnt = 0 OR curr_cnt = 0) AND category IS NOT NULL"""


def _rare_values_sql() -> str:
    return f"""
    WITH cells AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS value,
        SUM(CASE WHEN {_REF_W} THEN 1 ELSE 0 END) AS rc,
        SUM(CASE WHEN {_CURR_W} THEN 1 ELSE 0 END) AS cc
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(rc) AS rt, SUM(cc) AS ct FROM cells),
    e AS (
      SELECT value, rc, cc,
        CAST(rc AS DOUBLE) / GREATEST(rt, 1) AS rf,
        CAST(cc AS DOUBLE) / GREATEST(ct, 1) AS cf,
        (rc > 0 AND CAST(rc AS DOUBLE) / GREATEST(rt, 1) <= 0.01) AS rr,
        (cc > 0 AND CAST(cc AS DOUBLE) / GREATEST(ct, 1) <= 0.01) AS cr
      FROM cells CROSS JOIN tot)
    SELECT 'l_suppkey' AS column_name, value,
      CASE WHEN cr AND NOT rr AND rc > 0 THEN 'new_rare'
           WHEN rr AND NOT cr AND cc > 0 THEN 'disappeared_rare' END AS change_type,
      ROUND(rf, {ROUND}) AS prev_freq, ROUND(cf, {ROUND}) AS curr_freq,
      CAST(rc AS BIGINT) AS prev_count, CAST(cc AS BIGINT) AS curr_count,
      rr AS ref_rare, cr AS curr_rare
    FROM e"""


def _outlier_sql() -> str:
    cols = ["l_extendedprice", "l_quantity"]
    parts = []
    for c in cols:
        parts.append(f"""
        SELECT column_name, ref_n, curr_n, ref_z_outlier_count, curr_z_outlier_count,
          ref_outlier_count, curr_outlier_count, ref_extreme_count, curr_extreme_count,
          ROUND(CAST(ref_outlier_count AS DOUBLE)/GREATEST(ref_n,1), {ROUND}) AS ref_outlier_rate,
          ROUND(CAST(curr_outlier_count AS DOUBLE)/GREATEST(curr_n,1), {ROUND}) AS curr_outlier_rate,
          ROUND(ABS(CAST(curr_outlier_count AS DOUBLE)/GREATEST(curr_n,1)
                  - CAST(ref_outlier_count AS DOUBLE)/GREATEST(ref_n,1)), {ROUND}) AS outlier_rate_diff,
          ROUND(CASE WHEN rzr > 0 THEN (czr - rzr)/rzr WHEN czr > 0 THEN 1.0 ELSE 0.0 END, {ROUND}) AS z_rel_change,
          (ABS(CASE WHEN rzr > 0 THEN (czr - rzr)/rzr WHEN czr > 0 THEN 1.0 ELSE 0.0 END) >= 0.3
            OR ABS(czr - rzr) >= 0.01) AS z_significant
        FROM (
          SELECT '{c}' AS column_name,
            (SELECT CAST(COUNT({c}) AS BIGINT) FROM lineitem WHERE {_REF_W}) AS ref_n,
            (SELECT CAST(COUNT({c}) AS BIGINT) FROM lineitem WHERE {_CURR_W}) AS curr_n,
            (SELECT CAST(SUM(CASE WHEN ABS(({c}-st.mean)/st.std) > 3 THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_REF_W}) AS ref_z_outlier_count,
            (SELECT CAST(SUM(CASE WHEN ABS(({c}-st.mean)/st.std) > 3 THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_CURR_W}) AS curr_z_outlier_count,
            (SELECT CAST(SUM(CASE WHEN {c} < st.q1 - 1.5*(st.q3-st.q1) OR {c} > st.q3 + 1.5*(st.q3-st.q1) THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_REF_W}) AS ref_outlier_count,
            (SELECT CAST(SUM(CASE WHEN {c} < st.q1 - 1.5*(st.q3-st.q1) OR {c} > st.q3 + 1.5*(st.q3-st.q1) THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_CURR_W}) AS curr_outlier_count,
            (SELECT CAST(SUM(CASE WHEN {c} < st.q1 - 3*(st.q3-st.q1) OR {c} > st.q3 + 3*(st.q3-st.q1) THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_REF_W}) AS ref_extreme_count,
            (SELECT CAST(SUM(CASE WHEN {c} < st.q1 - 3*(st.q3-st.q1) OR {c} > st.q3 + 3*(st.q3-st.q1) THEN 1 ELSE 0 END) AS BIGINT)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_CURR_W}) AS curr_extreme_count,
            (SELECT CAST(SUM(CASE WHEN ABS(({c}-st.mean)/st.std) > 3 THEN 1 ELSE 0 END) AS DOUBLE)
               / GREATEST(COUNT({c}), 1)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_REF_W}) AS rzr,
            (SELECT CAST(SUM(CASE WHEN ABS(({c}-st.mean)/st.std) > 3 THEN 1 ELSE 0 END) AS DOUBLE)
               / GREATEST(COUNT({c}), 1)
             FROM lineitem CROSS JOIN st_{c} st WHERE {_CURR_W}) AS czr
        )""")
    ctes = ", ".join(
        f"""st_{c} AS (SELECT AVG({c}) AS mean, STDDEV_SAMP({c}) AS std,
            CAST(quantile_cont({c}, 0.25) AS DOUBLE) AS q1,
            CAST(quantile_cont({c}, 0.75) AS DOUBLE) AS q3
            FROM lineitem WHERE {_REF_W})"""
        for c in cols
    )
    return f"WITH {ctes} " + " UNION ALL ".join(parts)


_PCT = (
    "CASE WHEN {r} = 0 THEN (CASE WHEN {c} = 0 THEN 0.0 ELSE 1.0 END) "
    "ELSE ({c} - {r}) / ABS({r}) END"
)


def _group_numeric_sql() -> str:
    stats = """SELECT o_orderpriority AS dimension_value,
        CAST(COUNT(*) AS BIGINT) AS rows_,
        CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_,
        COALESCE(AVG(o_totalprice), 0) AS mean_,
        COALESCE(STDDEV_SAMP(o_totalprice), 0) AS std_,
        COALESCE(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 0) AS med_,
        COALESCE(MIN(o_totalprice), 0) AS mn_, COALESCE(MAX(o_totalprice), 0) AS mx_
      FROM orders WHERE {w} GROUP BY 1"""
    pct = lambda r, c: _PCT.format(r=r, c=c)  # noqa: E731
    return f"""
    WITH r AS ({stats.format(w='o_orderkey % 2 = 0')}),
         c AS ({stats.format(w='o_orderkey % 2 = 1')})
    SELECT r.dimension_value, 'o_totalprice' AS column_name,
      r.rows_ AS ref_rows, c.rows_ AS curr_rows,
      ROUND(r.mean_, {ROUND}) AS ref_mean, ROUND(c.mean_, {ROUND}) AS curr_mean,
      ROUND(r.med_, {ROUND}) AS ref_median, ROUND(c.med_, {ROUND}) AS curr_median,
      ROUND({pct('r.mean_', 'c.mean_')}, {ROUND}) AS mean_pct_change,
      ROUND({pct('r.std_', 'c.std_')}, {ROUND}) AS stddev_pct_change,
      ROUND({pct('r.med_', 'c.med_')}, {ROUND}) AS median_pct_change,
      ROUND({pct('(r.mx_ - r.mn_)', '(c.mx_ - c.mn_)')}, {ROUND}) AS range_pct_change,
      ROUND(ABS(CAST(c.nulls_ AS DOUBLE)/GREATEST(c.rows_,1)
              - CAST(r.nulls_ AS DOUBLE)/GREATEST(r.rows_,1)), {ROUND}) AS null_drift
    FROM r JOIN c USING (dimension_value)"""


def _group_drift_sql() -> str:
    pct = lambda r, c: _PCT.format(r=r, c=c)  # noqa: E731
    num_stats = """SELECT o_orderpriority AS dv,
        COUNT(*) AS rows_, SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nulls_,
        COALESCE(AVG(o_totalprice),0) AS mean_, COALESCE(STDDEV_SAMP(o_totalprice),0) AS std_,
        COALESCE(CAST(quantile_cont(o_totalprice,0.5) AS DOUBLE),0) AS med_
      FROM orders WHERE {w} GROUP BY 1"""
    return f"""
    WITH nr AS ({num_stats.format(w='o_orderkey % 2 = 0')}),
         nc AS ({num_stats.format(w='o_orderkey % 2 = 1')}),
         num AS (
           SELECT nr.dv,
             ABS(CAST(nc.nulls_ AS DOUBLE)/GREATEST(nc.rows_,1) - CAST(nr.nulls_ AS DOUBLE)/GREATEST(nr.rows_,1)) AS null_drift,
             {pct('nr.mean_','nc.mean_')} AS mean_pct, {pct('nr.std_','nc.std_')} AS std_pct,
             {pct('nr.med_','nc.med_')} AS med_pct,
             (CAST(nr.nulls_ AS DOUBLE)/GREATEST(nr.rows_,1) > 0.9 OR CAST(nc.nulls_ AS DOUBLE)/GREATEST(nc.rows_,1) > 0.9) AS skipped
           FROM nr JOIN nc USING (dv)),
         numc AS (
           SELECT dv,
             null_drift + CASE WHEN NOT skipped THEN ABS(mean_pct)+ABS(std_pct)+ABS(med_pct) ELSE 0 END AS contrib_sum,
             1 + CASE WHEN NOT skipped THEN 3 ELSE 0 END AS contrib_cnt,
             CAST(null_drift > 0.05 AS INT) + CAST((NOT skipped AND ABS(mean_pct) > 0.1) AS INT)
               + CAST((NOT skipped AND ABS(std_pct) > 0.2) AS INT) + CAST((NOT skipped AND ABS(med_pct) > 0.1) AS INT) AS n_drifted,
             null_drift >= 0.1 AS any_null, (NOT skipped AND ABS(mean_pct) >= 0.2) AS any_mean,
             (NOT skipped AND ABS(med_pct) >= 0.2) AS any_median, FALSE AS any_freq, FALSE AS any_distinct
           FROM num),
         cells AS (
           SELECT o_orderpriority AS dv, CAST(o_orderstatus AS VARCHAR) AS v,
             SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS ref_cnt,
             SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS curr_cnt
           FROM orders GROUP BY 1, 2),
         enr AS (
           SELECT *, SUM(ref_cnt) OVER (PARTITION BY dv) AS ref_total,
             SUM(curr_cnt) OVER (PARTITION BY dv) AS curr_total,
             ROW_NUMBER() OVER (PARTITION BY dv ORDER BY ref_cnt DESC, v ASC) AS rn_ref,
             ROW_NUMBER() OVER (PARTITION BY dv ORDER BY curr_cnt DESC, v ASC) AS rn_curr
           FROM cells),
         enr2 AS (
           SELECT *, (ref_cnt > 0 AND rn_ref <= 10) AS member_ref,
             (curr_cnt > 0 AND rn_curr <= 10) AS member_curr,
             CAST(ref_cnt AS DOUBLE)/GREATEST(ref_total,1) AS ref_freq,
             CAST(curr_cnt AS DOUBLE)/GREATEST(curr_total,1) AS curr_freq
           FROM enr),
         catagg AS (
           SELECT dv,
             CASE WHEN SUM(CAST(member_ref AND member_curr AS INT)) > 0
               THEN SUM(CASE WHEN member_ref AND member_curr THEN ABS(curr_freq - ref_freq) ELSE 0 END)
                    / SUM(CAST(member_ref AND member_curr AS INT))
               ELSE 1.0 END AS avg_freq_drift,
             ABS(CAST(SUM(CASE WHEN v IS NULL THEN curr_cnt ELSE 0 END) AS DOUBLE)/GREATEST(MAX(curr_total),1)
               - CAST(SUM(CASE WHEN v IS NULL THEN ref_cnt ELSE 0 END) AS DOUBLE)/GREATEST(MAX(ref_total),1)) AS null_drift,
             {pct('SUM(CAST(member_ref AS INT))', 'SUM(CAST(member_curr AS INT))')} AS distinct_pct
           FROM enr2 GROUP BY dv),
         catc AS (
           SELECT dv, null_drift + avg_freq_drift AS contrib_sum, 2 AS contrib_cnt,
             CAST(null_drift > 0.05 AS INT) + CAST(avg_freq_drift > 0.1 AS INT) AS n_drifted,
             null_drift >= 0.1 AS any_null, FALSE AS any_mean, FALSE AS any_median,
             avg_freq_drift >= 0.15 AS any_freq, ABS(distinct_pct) >= 0.25 AS any_distinct
           FROM catagg),
         contribs AS (SELECT * FROM numc UNION ALL SELECT * FROM catc),
         rollup AS (
           SELECT dv, SUM(contrib_sum)/GREATEST(SUM(contrib_cnt),1) AS raw_score,
             CAST(SUM(n_drifted) AS BIGINT) AS metrics_with_drift,
             BOOL_OR(any_null) AS any_null, BOOL_OR(any_mean) AS any_mean,
             BOOL_OR(any_median) AS any_median, BOOL_OR(any_freq) AS any_freq,
             BOOL_OR(any_distinct) AS any_distinct
           FROM contribs GROUP BY dv),
         grp AS (
           SELECT o_orderpriority AS dv,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_rows,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS curr_rows
           FROM orders GROUP BY 1)
    SELECT grp.dv AS dimension_value, grp.ref_rows, grp.curr_rows,
      ROUND({pct('grp.ref_rows', 'grp.curr_rows')}, {ROUND}) AS row_pct_change,
      rollup.metrics_with_drift,
      ROUND(LEAST(1.0, rollup.raw_score), {ROUND}) AS drift_score,
      (LEAST(1.0, rollup.raw_score) >= 0.1 OR rollup.metrics_with_drift >= 3
        OR ABS({pct('grp.ref_rows', 'grp.curr_rows')}) >= 0.25
        OR rollup.any_null OR rollup.any_mean OR rollup.any_median
        OR rollup.any_freq OR rollup.any_distinct) AS drift_detected
    FROM grp JOIN rollup ON grp.dv = rollup.dv"""


def _corr_pairs_sql() -> str:
    from itertools import combinations

    parts = []
    for a, b in combinations(CORR_COLS, 2):
        parts.append(f"""
        SELECT '{a}' AS col1, '{b}' AS col2,
          ROUND(rc, {ROUND}) AS ref_correlation, ROUND(cc, {ROUND}) AS curr_correlation,
          ROUND(ABS(cc - rc), {ROUND}) AS abs_change,
          (ABS(cc - rc) >= 0.05) AS significant_shift,
          CASE WHEN ABS(cc - rc) >= 0.05
               THEN (CASE WHEN ABS(cc) < ABS(rc) THEN 'weaker' ELSE 'stronger' END) END AS change_type,
          (ABS(rc) < 0.7 AND ABS(cc) >= 0.7) AS new_strong_correlation,
          (ABS(rc) >= 0.7 AND ABS(cc) < 0.7) AS disappeared_strong_correlation
        FROM (SELECT
          COALESCE((SELECT corr({a}, {b}) FROM lineitem WHERE {_REF_W}), 0.0) AS rc,
          COALESCE((SELECT corr({a}, {b}) FROM lineitem WHERE {_CURR_W}), 0.0) AS cc)""")
    return " UNION ALL ".join(parts)


def _feature_importance_sql() -> str:
    target = "l_extendedprice"
    preds = ["l_quantity", "l_discount", "l_tax"]
    imps = " UNION ALL ".join(
        f"""SELECT '{p}' AS "column",
          ABS(COALESCE((SELECT corr({p}, {target}) FROM lineitem WHERE {_REF_W}), 0.0)) AS ref_importance,
          ABS(COALESCE((SELECT corr({p}, {target}) FROM lineitem WHERE {_CURR_W}), 0.0)) AS curr_importance"""
        for p in preds
    )
    return f"""
    WITH imp AS ({imps}),
    ranked AS (
      SELECT *,
        CAST(ROW_NUMBER() OVER (ORDER BY ref_importance DESC, "column" ASC) AS INT) AS ref_rank,
        CAST(ROW_NUMBER() OVER (ORDER BY curr_importance DESC, "column" ASC) AS INT) AS curr_rank
      FROM imp)
    SELECT "column",
      ROUND(ref_importance, {ROUND}) AS ref_importance,
      ROUND(curr_importance, {ROUND}) AS curr_importance,
      ROUND(ABS(curr_importance - ref_importance), {ROUND}) AS abs_change,
      ROUND(ABS(curr_importance - ref_importance) / GREATEST(ref_importance, 0.01), {ROUND}) AS rel_change,
      CASE WHEN curr_importance > ref_importance THEN 'increased' ELSE 'decreased' END AS change_type,
      ref_rank, curr_rank, CAST(ref_rank - curr_rank AS INT) AS rank_shift
    FROM ranked"""


_EN_STOPS = "'the','a','and','of','to','is','in'"
_LANG_STOPS = {
    "en": _EN_STOPS,
    "de": "'der','die','das','und','ist','nicht'",
    "es": "'el','los','las','una','es','y'",
    "fr": "'le','les','des','est','et','dans'",
}


def _text_stats_sql() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, text,
        len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
        LENGTH(text) AS n_chars,
        LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) AS non_space,
        LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS punct,
        len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ({_EN_STOPS}))) AS stop_hits
      FROM documents),
    m AS (
      SELECT doc_id,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
        CAST(n_chars AS BIGINT) AS n_chars,
        CAST(non_space AS DOUBLE) / GREATEST(n_tokens, 1) AS avg_word_len,
        CAST(punct AS DOUBLE) / GREATEST(n_chars, 1) AS punct_ratio,
        CAST(stop_hits AS DOUBLE) / GREATEST(n_tokens, 1) AS stopword_ratio
      FROM base)
    SELECT doc_id, n_tokens, n_bpe_tokens, n_chars,
      ROUND(avg_word_len, {ROUND}) AS avg_word_len,
      ROUND(punct_ratio, {ROUND}) AS punct_ratio,
      ROUND(stopword_ratio, {ROUND}) AS stopword_ratio,
      ROUND(
        0.4 * LEAST(1.0, n_tokens / 50.0)
        + 0.3 * (CASE WHEN avg_word_len >= 3 AND avg_word_len <= 8 THEN 1.0 ELSE 0.5 END)
        + 0.3 * LEAST(1.0, stopword_ratio * 5), {ROUND}) AS quality_score
    FROM m"""


def _lang_id_sql() -> str:
    hits = ", ".join(
        f"CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ({words}))) AS BIGINT) AS hits_{lang}"
        for lang, words in _LANG_STOPS.items()
    )
    return f"""
    WITH h AS (SELECT doc_id, {hits} FROM documents),
    b AS (SELECT *, GREATEST(hits_en, hits_de, hits_es, hits_fr) AS best FROM h)
    SELECT doc_id, hits_en, hits_de, hits_es, hits_fr,
      CASE WHEN best > 0 AND hits_de = best THEN 'de'
           WHEN best > 0 AND hits_en = best THEN 'en'
           WHEN best > 0 AND hits_es = best THEN 'es'
           WHEN best > 0 AND hits_fr = best THEN 'fr'
           ELSE 'unknown' END AS detected_lang
    FROM b"""


def _fingerprint_sql() -> str:
    return """
    SELECT doc_id,
      md5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents"""


def _dedup_exact_sql() -> str:
    return """
    SELECT doc_id, content_key, group_size, survivor_id,
      (doc_id <> survivor_id) AS is_duplicate
    FROM (
      SELECT doc_id, md5(text) AS content_key,
        CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
        MIN(doc_id) OVER (PARTITION BY md5(text)) AS survivor_id
      FROM documents)"""


def _jaccard_sql(threshold: float = 0.3) -> str:
    return f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
        unnest(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                              i -> array_to_string(t[i:i+2], ' '))) AS shingle
      FROM toks)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT id1, id2, CAST(shared AS BIGINT) AS shared,
      ROUND(CAST(shared AS DOUBLE) / (s1.n + s2.n - shared), {ROUND}) AS jaccard
    FROM pairs
    JOIN sizes s1 ON s1.doc_id = pairs.id1
    JOIN sizes s2 ON s2.doc_id = pairs.id2
    WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) >= {threshold}"""


def _minhash_lsh_sql(threshold: float = 0.3) -> str:
    """Full SQL replay of minhash_lsh_pairs(hash_family='md5'): the same
    md5-derived 60-bit shingle hash, the same seeded affine (a,b) constants
    (inlined as a VALUES list), band keys as ordered row-value lists, and
    exact-Jaccard verification restricted to band-collision candidates."""
    from pyspark_data_drift_detector_spark.operators.dedup import MERSENNE31, affine_params

    params = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(affine_params(64))
    )
    p = MERSENNE31
    return f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
        unnest(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                              i -> array_to_string(t[i:i+2], ' '))) AS shingle
      FROM toks)),
    u AS (SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {p} AS u FROM sh),
    params AS (SELECT * FROM (VALUES {params}) p(i, a, b)),
    sigs AS (SELECT doc_id, i, MIN((a * u + b) % {p}) AS h
             FROM u CROSS JOIN params GROUP BY 1, 2),
    bands AS (SELECT doc_id, i // 4 AS band, list(h ORDER BY i) AS key
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
      FROM sh a JOIN sh b USING (shingle)
      JOIN cand c ON c.id1 = a.doc_id AND c.id2 = b.doc_id
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT id1, id2,
      ROUND(CAST(shared AS DOUBLE) / (s1.n + s2.n - shared), {ROUND}) AS jaccard
    FROM shared
    JOIN sizes s1 ON s1.doc_id = shared.id1
    JOIN sizes s2 ON s2.doc_id = shared.id2
    WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) >= {threshold}"""


def _dedup_clusters_sql(threshold: float = 0.3) -> str:
    """Transitive closure (recursive CTE) over the md5-family MinHash pairs:
    cluster_id = min reachable doc id — identical to min-label propagation's
    fixpoint."""
    return f"""
    WITH p AS ({_minhash_lsh_sql(threshold)}),
    edges AS (SELECT id1 AS a, id2 AS b FROM p
              UNION ALL SELECT id2 AS a, id1 AS b FROM p),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    walk AS (
      WITH RECURSIVE w(src, dst) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT w.src, e.b FROM w JOIN edges e ON e.a = w.dst)
      SELECT * FROM w)
    SELECT src AS id, MIN(dst) AS cluster_id FROM walk GROUP BY 1"""


def _simhash_sql(max_distance: int = 8) -> str:
    """SQL replay of simhash_pairs(hash_family='md5'): 60-bit md5 token
    hashes, per-bit ±1 votes, signature reconstruction, 15-bit band keys,
    and XOR-popcount Hamming verification."""
    return f"""
    WITH toks AS (SELECT doc_id,
        unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
    u AS (SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS u FROM toks),
    votes AS (SELECT doc_id, i, SUM(((u >> i) & 1) * 2 - 1) AS v
              FROM u CROSS JOIN range(60) r(i) GROUP BY 1, 2),
    sigs AS (SELECT doc_id,
        SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
      FROM votes GROUP BY 1),
    bands AS (SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS key
              FROM sigs CROSS JOIN range(4) rb(b)),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                    a.sig AS sig1, b.sig AS sig2
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id1, id2, CAST(bit_count(xor(sig1, sig2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig1, sig2)) <= {max_distance}"""


def _knn_sql() -> str:
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (
      SELECT q.qid AS query_id, c.cid AS neighbor_id,
        list_cosine_similarity(q.e, c.e) AS sim,
        ROW_NUMBER() OVER (PARTITION BY q.qid
          ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.cid ASC) AS rnk
      FROM q JOIN c ON c.cid <> q.qid)
    SELECT query_id, neighbor_id, ROUND(sim, {ROUND}) AS cosine, CAST(rnk AS INT) AS "rank"
    FROM s WHERE rnk <= 5"""


def _ann_lsh_sql() -> str:
    """SQL replay of lsh_topk(dim=64, n_planes=16, bands=8): the seeded
    hyperplanes are deterministic Python constants, so they inline as list
    literals; sign-bit signatures, 2-bit band keys, band-collision
    candidates, and the exact cosine re-rank are all plain SQL. Both engines
    compute the plane dot product as a sequential double fold, so the sign
    bits agree bit-for-bit."""
    from pyspark_data_drift_detector_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 16, seed=42)
    bit_exprs = ",\n        ".join(
        "CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(x) for x in plane)
        + "]) > 0 THEN 1 ELSE 0 END"
        for plane in planes
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    -- valid vectors only: Spark's NULL-propagating signature never
    -- buckets NULL / ragged / NULL-element vectors (r9 semantics)
    sigs AS (
      SELECT vec_id, e, [
        {bit_exprs}
      ] AS bits FROM v
      WHERE e IS NOT NULL AND len(e) = 64
        AND len(list_filter(e, x -> x IS NULL)) = 0),
    banded AS (
      SELECT vec_id, e, b.band,
        bits[2 * b.band + 1] + 2 * bits[2 * b.band + 2] AS key
      FROM sigs, (SELECT unnest(range(8)) AS band) b),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM banded q JOIN banded c
        ON q.band = c.band AND q.key = c.key AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    s AS (
      SELECT cand.query_id, cand.neighbor_id,
        list_cosine_similarity(qv.e, cv.e) AS sim,
        ROW_NUMBER() OVER (PARTITION BY cand.query_id
          ORDER BY list_cosine_similarity(qv.e, cv.e) DESC, cand.neighbor_id ASC) AS rnk
      FROM cand
      JOIN v qv ON qv.vec_id = cand.query_id
      JOIN v cv ON cv.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, ROUND(sim, {ROUND}) AS cosine, CAST(rnk AS INT) AS "rank"
    FROM s WHERE rnk <= 5"""


def _ann_ivf_sql() -> str:
    """SQL replay of ivf_topk(n_centroids=16, nprobe=2, k=5): centroids are
    the first 16 corpus vectors by id; corpus vectors join their single
    nearest cell, queries probe their 2 nearest cells."""
    return f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS ce
      FROM embeddings ORDER BY vec_id ASC LIMIT 16),
    c_assign AS (
      SELECT neighbor_id, e, centroid_id FROM (
        SELECT v.vec_id AS neighbor_id, v.embedding::DOUBLE[] AS e, cent.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY list_cosine_similarity(v.embedding::DOUBLE[], cent.ce) DESC,
                     cent.centroid_id ASC) AS r
        FROM embeddings v CROSS JOIN cent) WHERE r = 1),
    q_assign AS (
      SELECT query_id, qe, centroid_id FROM (
        SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qe, cent.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], cent.ce) DESC,
                     cent.centroid_id ASC) AS r
        FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 10) WHERE r <= 2),
    s AS (
      SELECT qa.query_id, ca.neighbor_id,
        list_cosine_similarity(qa.qe, ca.e) AS sim,
        ROW_NUMBER() OVER (PARTITION BY qa.query_id
          ORDER BY list_cosine_similarity(qa.qe, ca.e) DESC, ca.neighbor_id ASC) AS rnk
      FROM q_assign qa JOIN c_assign ca
        ON qa.centroid_id = ca.centroid_id AND ca.neighbor_id <> qa.query_id)
    SELECT query_id, neighbor_id, ROUND(sim, {ROUND}) AS cosine, CAST(rnk AS INT) AS "rank"
    FROM s WHERE rnk <= 5"""


def _embedding_neardup_sql(threshold: float = 0.4) -> str:
    return f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
      ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), {ROUND}) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {threshold}"""


def _categorical_distances_sql(epsilon: float = 1e-4) -> str:
    cols = ["p_brand", "p_type"]
    return f"""
    WITH refc AS ({_freq_sql(cols, 'part', 'p_partkey % 2 = 0')}),
         currc AS ({_freq_sql(cols, 'part', 'p_partkey % 2 = 1')}),
         aligned AS (
           SELECT COALESCE(r.column_name, c.column_name) AS column_name,
                  COALESCE(r.freq, 0.0) AS p, COALESCE(c.freq, 0.0) AS q
           FROM refc r FULL OUTER JOIN currc c
             ON r.column_name = c.column_name AND r.value = c.value)
    SELECT column_name,
      ROUND(SQRT(GREATEST(0.0, (
        SUM(CASE WHEN p > 0 AND (p+q)/2 > 0 THEN p * LOG2(p / ((p+q)/2)) ELSE 0 END) +
        SUM(CASE WHEN q > 0 AND (p+q)/2 > 0 THEN q * LOG2(q / ((p+q)/2)) ELSE 0 END)
      ) / 2)), {ROUND}) AS js,
      ROUND(SUM((GREATEST(q, {epsilon}) - GREATEST(p, {epsilon}))
        * LN(GREATEST(q, {epsilon}) / GREATEST(p, {epsilon}))), {ROUND}) AS psi,
      ROUND(SUM(ABS(p - q)) / 2, {ROUND}) AS tvd,
      ROUND(SQRT(GREATEST(0.0, SUM(POW(SQRT(p) - SQRT(q), 2)) / 2)), {ROUND}) AS hellinger
    FROM aligned GROUP BY column_name"""


def _psi_sql(epsilon: float = 1e-4) -> str:
    cols = ["p_brand", "p_type"]
    return f"""
    WITH refc AS ({_freq_sql(cols, 'part', 'p_partkey % 2 = 0')}),
         currc AS ({_freq_sql(cols, 'part', 'p_partkey % 2 = 1')}),
         aligned AS (
           SELECT COALESCE(r.column_name, c.column_name) AS column_name,
                  GREATEST(COALESCE(r.freq, 0.0), {epsilon}) AS p,
                  GREATEST(COALESCE(c.freq, 0.0), {epsilon}) AS q
           FROM refc r FULL OUTER JOIN currc c
             ON r.column_name = c.column_name AND r.value = c.value),
         s AS (SELECT column_name, SUM((q - p) * LN(q / p)) AS psi
               FROM aligned GROUP BY 1)
    SELECT column_name, ROUND(psi, {ROUND}) AS psi,
      CASE WHEN psi < 0.1 THEN 'stable' WHEN psi < 0.25 THEN 'moderate_shift'
           ELSE 'significant_shift' END AS stability
    FROM s"""


def _ks_wasserstein_sql(terms: int = 20) -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS DOUBLE) AS value, "
        f"CASE WHEN {_REF_W} THEN 1 ELSE 0 END AS is_ref "
        f"FROM lineitem WHERE {c} IS NOT NULL"
        for c in cols
    )
    series = " + ".join(
        f"({float((-1) ** (k - 1))} * EXP({-2.0 * k * k} * lam * lam))"
        for k in range(1, terms + 1)
    )
    return f"""
    WITH m AS ({melt}),
    cells AS (
      SELECT column_name, value, SUM(is_ref) AS rc, SUM(1 - is_ref) AS cc
      FROM m GROUP BY 1, 2),
    enr AS (
      SELECT column_name, value, rc, cc,
        SUM(rc) OVER (PARTITION BY column_name ORDER BY value
                      ROWS UNBOUNDED PRECEDING) AS cum_r,
        SUM(cc) OVER (PARTITION BY column_name ORDER BY value
                      ROWS UNBOUNDED PRECEDING) AS cum_c,
        SUM(rc) OVER (PARTITION BY column_name) AS n_r,
        SUM(cc) OVER (PARTITION BY column_name) AS n_c,
        LEAD(value) OVER (PARTITION BY column_name ORDER BY value) - value AS gap
      FROM cells),
    d AS (
      SELECT column_name,
        ABS(CAST(cum_r AS DOUBLE) / GREATEST(n_r, 1)
          - CAST(cum_c AS DOUBLE) / GREATEST(n_c, 1)) AS diff,
        gap, rc + cc AS pooled, n_r, n_c
      FROM enr),
    agg AS (
      SELECT column_name, MAX(diff) AS ks,
        COALESCE(SUM(diff * gap), 0.0) AS wasserstein,
        COALESCE(SUM(pooled * diff * diff), 0.0)
          * MAX(n_r) * MAX(n_c) / POW(MAX(n_r) + MAX(n_c), 2) AS cvm,
        MAX(n_r) AS n_ref, MAX(n_c) AS n_curr
      FROM d GROUP BY 1),
    lamt AS (
      SELECT *, ks * SQRT(CAST(n_ref AS DOUBLE) * n_curr / (n_ref + n_curr)) AS lam
      FROM agg)
    SELECT column_name, ROUND(ks, {ROUND}) AS ks,
      ROUND(CASE WHEN lam < 0.4 THEN 1.0
            ELSE GREATEST(0.0, LEAST(1.0, 2 * ({series}))) END, {ROUND}) AS ks_pvalue,
      ROUND(wasserstein, {ROUND}) AS wasserstein,
      ROUND(cvm, {ROUND}) AS cvm,
      CAST(n_ref AS BIGINT) AS n_ref, CAST(n_curr AS BIGINT) AS n_curr
    FROM lamt"""


def _psi_numeric_sql(bins: int = 10, epsilon: float = 1e-4) -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    probs = ", ".join(str(i / bins) for i in range(1, bins))
    parts = []
    for c in cols:
        bin_expr = " + ".join(
            f"(CASE WHEN {c} > ROUND(e.q[{i}], 9) THEN 1 ELSE 0 END)" for i in range(1, bins)
        )
        parts.append(f"""
        SELECT '{c}' AS column_name, {bin_expr} AS bin,
          SUM(CASE WHEN {_REF_W} THEN 1 ELSE 0 END) AS rc,
          SUM(CASE WHEN {_CURR_W} THEN 1 ELSE 0 END) AS cc
        FROM lineitem CROSS JOIN
          (SELECT quantile_cont({c}, [{probs}]) AS q FROM lineitem WHERE {_REF_W}) e
        WHERE {c} IS NOT NULL GROUP BY 1, 2""")
    return f"""
    WITH counts AS ({' UNION ALL '.join(parts)}),
    tot AS (SELECT column_name, SUM(rc) AS rt, SUM(cc) AS ct
            FROM counts GROUP BY 1),
    grid AS (SELECT c.column_name, r.bin FROM tot c CROSS JOIN range({bins}) r(bin)),
    freqs AS (
      SELECT g.column_name,
        GREATEST(CAST(COALESCE(c.rc, 0) AS DOUBLE) / GREATEST(t.rt, 1), {epsilon}) AS p,
        GREATEST(CAST(COALESCE(c.cc, 0) AS DOUBLE) / GREATEST(t.ct, 1), {epsilon}) AS q
      FROM grid g
      JOIN tot t ON t.column_name = g.column_name
      LEFT JOIN counts c ON c.column_name = g.column_name AND c.bin = g.bin),
    s AS (SELECT column_name, SUM((q - p) * LN(q / p)) AS psi FROM freqs GROUP BY 1)
    SELECT column_name, ROUND(psi, {ROUND}) AS psi,
      CASE WHEN psi < 0.1 THEN 'stable' WHEN psi < 0.25 THEN 'moderate_shift'
           ELSE 'significant_shift' END AS stability
    FROM s"""


def _embedding_neardup_lsh_sql(threshold: float = 0.4) -> str:
    """Replay of embedding_neardup_lsh(dim=64, n_planes=28, bands=4): same
    seeded hyperplane family, 7-bit band keys (128 buckets per band — at a
    FIXED key width LSH collision work is still Θ(n²/buckets), so key width
    must grow with the corpus; 7 bits keeps the fixture non-vacuous at 8×
    less collision volume than 4 bits), pair collisions, exact-cosine
    filter."""
    from pyspark_data_drift_detector_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 28, seed=42)
    bit_exprs = ",\n        ".join(
        "CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(x) for x in plane)
        + "]) > 0 THEN 1 ELSE 0 END"
        for plane in planes
    )
    key = " + ".join(f"{2**i} * bits[7 * b.band + {i + 1}]" for i in range(7))
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sigs AS (
      SELECT vec_id, e, [
        {bit_exprs}
      ] AS bits FROM v),
    banded AS (
      SELECT vec_id, e, b.band, {key} AS key
      FROM sigs, (SELECT unnest(range(4)) AS band) b),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
    SELECT id1, id2,
      ROUND(list_cosine_similarity(av.e, bv.e), {ROUND}) AS cosine
    FROM cand
    JOIN v av ON av.vec_id = cand.id1
    JOIN v bv ON bv.vec_id = cand.id2
    WHERE list_cosine_similarity(av.e, bv.e) >= {threshold}"""


def _events_windowed_sql() -> str:
    return f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      ROUND(AVG(value), {ROUND}) AS mean,
      ROUND(STDDEV_SAMP(value), {ROUND}) AS stddev,
      ROUND(MIN(value), {ROUND}) AS min,
      ROUND(MAX(value), {ROUND}) AS max
    FROM events GROUP BY 1, 2"""


def _events_sliding_sql() -> str:
    # 1-day window sliding every 12h: event ts belongs to the 2 windows whose
    # epoch-aligned starts are floor(ts to 12h grid) and that minus 12h,
    # filtered to start > ts - 1 day (Spark window() replication semantics)
    return f"""
    WITH repl AS (
      SELECT to_timestamp((epoch(ts)::BIGINT // 43200) * 43200 - i * 43200)
               AS window_start,
             event_type, value, ts
      FROM events CROSS JOIN range(2) r(i)),
    valid AS (
      SELECT * FROM repl
      WHERE epoch(ts) - epoch(window_start) < 86400 AND epoch(ts) >= epoch(window_start))
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      ROUND(AVG(value), {ROUND}) AS mean,
      ROUND(STDDEV_SAMP(value), {ROUND}) AS stddev,
      ROUND(MIN(value), {ROUND}) AS min,
      ROUND(MAX(value), {ROUND}) AS max
    FROM valid GROUP BY 1, 2"""


def _running_profile_sql() -> str:
    n = "SUM(nv) OVER w"
    mean = f"SUM(s) OVER w / NULLIF({n}, 0)"
    var = f"(SUM(ss) OVER w - ({n}) * POW({mean}, 2)) / (({n}) - 1)"
    return f"""
    WITH per AS (
      SELECT date_trunc('day', ts) AS bucket_ts, event_type,
        COUNT(*) AS rows_,
        SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nulls,
        COUNT(value) AS nv, SUM(value) AS s, SUM(value * value) AS ss,
        MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY 1, 2)
    SELECT strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket_ts, event_type,
      CAST(SUM(rows_) OVER w AS BIGINT) AS n,
      CAST(SUM(nulls) OVER w AS BIGINT) AS null_count,
      ROUND({mean}, {ROUND}) AS mean,
      ROUND(CASE WHEN {n} > 1 THEN SQRT(GREATEST({var}, 0.0)) END, {ROUND}) AS stddev,
      ROUND(MIN(mn) OVER w, {ROUND}) AS min,
      ROUND(MAX(mx) OVER w, {ROUND}) AS max
    FROM per
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING)"""


def _type_inference_sql() -> str:
    # physical types are static facts of the parquet schema; the 5%
    # distinct-ratio rule and the timestamp probe are replayed on the data.
    # (probe over ALL rows: none of these string columns is timestamp-like,
    # so the 100-row-sample vs full-column distinction cannot change the
    # outcome here)
    parts = []
    for c in LINEITEM_NUMERIC:
        parts.append(f"""
        SELECT '{c}' AS column_name,
          CASE WHEN COUNT({c}) > 0
                 AND CAST(COUNT(DISTINCT {c}) AS DOUBLE) / COUNT({c}) < 0.05
               THEN 'categorical' ELSE 'numerical' END AS semantic_type
        FROM lineitem""")
    for c in LINEITEM_CATEGORICAL:
        parts.append(f"""
        SELECT '{c}' AS column_name,
          CASE WHEN AVG(CASE WHEN TRY_CAST({c} AS TIMESTAMP) IS NOT NULL
                             THEN 1.0 ELSE 0.0 END) > 0.9
               THEN 'temporal' ELSE 'categorical' END AS semantic_type
        FROM lineitem""")
    parts.append("SELECT 'l_shipdate' AS column_name, 'temporal' AS semantic_type")
    return " UNION ALL ".join(parts)


def _adaptive_thresholds_sql(
    base: float = 0.2, min_t: float = 0.05, max_t: float = 0.5, n_table_cols: int = 11
) -> str:
    cplx = 0.9 if n_table_cols < 10 else (1.0 if n_table_cols < 50 else (1.1 if n_table_cols < 100 else 1.2))
    size_f = (
        "CASE WHEN n_rows < 100 THEN 2.0 WHEN n_rows < 1000 THEN 1.5 "
        "WHEN n_rows < 10000 THEN 1.2 WHEN n_rows < 100000 THEN 1.0 "
        "WHEN n_rows < 1000000 THEN 0.8 ELSE 0.6 END"
    )
    vol_f = (
        "CASE WHEN cv IS NULL THEN 1.5 WHEN cv < 0.1 THEN 0.8 "
        "WHEN cv < 0.5 THEN 1.0 WHEN cv < 1.0 THEN 1.2 ELSE 1.5 END"
    )
    card_f = (
        "CASE WHEN n_rows = 0 THEN 1.0 "
        "WHEN CAST(distinct_count AS DOUBLE)/n_rows < 0.01 THEN 0.8 "
        "WHEN CAST(distinct_count AS DOUBLE)/n_rows < 0.1 THEN 0.9 "
        "WHEN CAST(distinct_count AS DOUBLE)/n_rows < 0.5 THEN 1.0 "
        "WHEN CAST(distinct_count AS DOUBLE)/n_rows < 0.9 THEN 1.2 ELSE 1.5 END"
    )
    null_f = (
        "CASE WHEN n_rows = 0 THEN 1.0 "
        "WHEN CAST(null_count AS DOUBLE)/n_rows < 0.01 THEN 0.9 "
        "WHEN CAST(null_count AS DOUBLE)/n_rows < 0.1 THEN 1.0 "
        "WHEN CAST(null_count AS DOUBLE)/n_rows < 0.3 THEN 1.1 "
        "WHEN CAST(null_count AS DOUBLE)/n_rows < 0.5 THEN 1.3 ELSE 1.5 END"
    )
    interp = (
        f"CASE WHEN cv IS NULL THEN {base} WHEN cv < 0.1 THEN {min_t} "
        f"WHEN cv > 1.0 THEN {max_t} "
        f"ELSE {min_t} + ({max_t} - {min_t}) * (cv - 0.1) / 0.9 END"
    )
    stats = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(DISTINCT {c}) AS BIGINT) AS distinct_count,
          CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count,
          CASE WHEN AVG({c}) IS NULL OR AVG({c}) = 0 OR STDDEV_SAMP({c}) IS NULL
               THEN NULL ELSE ABS(STDDEV_SAMP({c}) / AVG({c})) END AS cv
        FROM lineitem"""
        for c in LINEITEM_NUMERIC
    )
    return f"""
    WITH s AS ({stats})
    SELECT column_name, n_rows, distinct_count,
      ROUND(cv, {ROUND}) AS cv,
      ROUND(CAST({size_f} AS DOUBLE), {ROUND}) AS size_factor,
      CAST({cplx} AS DOUBLE) AS complexity_factor,
      ROUND(CAST({vol_f} AS DOUBLE), {ROUND}) AS volatility_factor,
      ROUND(CAST({card_f} AS DOUBLE), {ROUND}) AS cardinality_factor,
      ROUND(CAST({null_f} AS DOUBLE), {ROUND}) AS null_factor,
      ROUND(CAST({base} * ({size_f}) * {cplx} * ({vol_f}) * ({card_f}) * ({null_f}) AS DOUBLE), {ROUND}) AS composed_threshold,
      ROUND({interp}, {ROUND}) AS adaptive_threshold
    FROM s"""


def _severity_sql() -> str:
    rel_mean = _REL.format(rv="mean", cv="mean")
    rel_med = _REL.format(rv="p50", cv="p50")
    rel_std = _REL.format(rv="stddev", cv="stddev")
    rel_iqr = (
        "CASE WHEN (r.p75 - r.p25) = 0 THEN (CASE WHEN (c.p75 - c.p25) <> 0 THEN 1.0 ELSE 0.0 END) "
        "ELSE ((c.p75 - c.p25) - (r.p75 - r.p25)) / ABS(r.p75 - r.p25) END"
    )
    rel_range = (
        "CASE WHEN (r.mx - r.mn) = 0 THEN (CASE WHEN (c.mx - c.mn) <> 0 THEN 1.0 ELSE 0.0 END) "
        "ELSE ((c.mx - c.mn) - (r.mx - r.mn)) / ABS(r.mx - r.mn) END"
    )
    null_diff = "(CAST(c.null_count AS DOUBLE)/c.n_rows - CAST(r.null_count AS DOUBLE)/r.n_rows)"
    score = (
        f"LEAST(1.0, 0.25*ABS({rel_mean}) + 0.2*ABS({rel_med}) + 0.15*ABS({rel_std})"
        f" + 0.15*ABS({rel_iqr}) + 0.1*ABS({null_diff}) + 0.15*ABS({rel_range}))"
    )
    return f"""
    WITH {_profile_cte('ref', _REF_W)},
         {_profile_cte('curr', _CURR_W)},
         scored AS (
           SELECT r.column_name, {score} AS score
           FROM ref r JOIN curr c USING (column_name))
    SELECT column_name,
      ROUND(score, {ROUND}) AS drift_score,
      CASE WHEN score < 0.1 THEN 'None' WHEN score < 0.25 THEN 'Low'
           WHEN score < 0.5 THEN 'Medium' WHEN score < 0.75 THEN 'High'
           ELSE 'Critical' END AS severity,
      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, column_name ASC) AS INT) AS rank
    FROM scored"""


def _schema_drift_sql() -> str:
    # golden expected output: the schema evolution in q_schema_drift is
    # fixed, so the diff rows are a deterministic constant
    return """
    SELECT 'l_flag' AS column_name, 'column_added' AS change_type, '' AS details, 'low' AS severity
    UNION ALL SELECT 'l_tax', 'column_removed', '', 'high'
    UNION ALL SELECT 'l_linenumber', 'type_change', 'IntegerType() -> LongType()', 'medium'
    UNION ALL SELECT 'l_quantity', 'type_change', 'DoubleType() -> StringType()', 'high'"""


def _corr_groups_sql(threshold: float = CORR_GROUP_THRESHOLD) -> str:
    from itertools import combinations

    pair_selects = []
    for side, w in (("ref", _REF_W), ("curr", _CURR_W)):
        for a, b in combinations(CORR_GROUP_COLS, 2):
            pair_selects.append(
                f"SELECT '{side}' AS side, '{a}' AS c1, '{b}' AS c2, "
                f"corr({a}, {b}) AS r FROM base WHERE {w}"
            )
    return f"""
    WITH base AS (
      SELECT l_orderkey, l_quantity, l_extendedprice,
        l_extendedprice * (1 - l_discount) AS l_total,
        l_extendedprice * l_tax AS l_taxamt
      FROM lineitem),
    pairs AS ({' UNION ALL '.join(pair_selects)}),
    edges AS (
      SELECT side, c1 AS a, c2 AS b FROM pairs WHERE ABS(r) >= {threshold}
      UNION ALL
      SELECT side, c2 AS a, c1 AS b FROM pairs WHERE ABS(r) >= {threshold}),
    nodes AS (SELECT DISTINCT side, a AS col FROM edges),
    reach AS (
      WITH RECURSIVE walk(side, src, dst) AS (
        SELECT side, col, col FROM nodes
        UNION
        SELECT w.side, w.src, e.b FROM walk w JOIN edges e
          ON e.side = w.side AND e.a = w.dst)
      SELECT * FROM walk)
    SELECT side, MIN(dst) AS group_id, src AS column_name
    FROM reach GROUP BY side, src"""


def _image_features_sql(n_features: int = 8) -> str:
    """Byte-level replay of the stub decoder: documents text is pure ASCII
    (checked), so payload bytes equal character code points."""
    return f"""
    WITH chars AS (
      SELECT doc_id, unicode(c) AS b
      FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents)
      WHERE c <> ''),
    stats AS (
      SELECT doc_id, COUNT(*) AS n, AVG(b) AS mean, STDDEV_POP(b) AS sd
      FROM chars GROUP BY 1),
    cnt AS (
      SELECT doc_id, (b * {n_features}) // 256 AS bucket, COUNT(*) AS c
      FROM chars GROUP BY 1, 2),
    grid AS (
      SELECT d.doc_id, r.bucket
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN range({n_features}) r(bucket))
    SELECT g.doc_id,
      CAST(octet_length(encode(doc.text)) AS BIGINT) AS n_bytes,
      ROUND(COALESCE(s.mean, 0.0), {ROUND}) AS byte_mean,
      ROUND(COALESCE(s.sd, 0.0), {ROUND}) AS byte_std,
      CAST(g.bucket AS INT) AS bucket,
      ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE) / GREATEST(COALESCE(s.n, 0), 1), {ROUND}) AS ratio
    FROM grid g
    JOIN documents doc ON doc.doc_id = g.doc_id
    LEFT JOIN stats s ON s.doc_id = g.doc_id
    LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.bucket = g.bucket"""


def _frame_sample_sql(n_frames: int = 4) -> str:
    return f"""
    WITH g AS (
      SELECT doc_id, text,
        GREATEST(octet_length(encode(text)) // {n_frames}, 1) AS step,
        octet_length(encode(text)) AS n
      FROM documents),
    f AS (SELECT doc_id, text, step, n, r.i AS frame_idx
          FROM g CROSS JOIN range({n_frames}) r(i))
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      CAST(GREATEST(LEAST(n, (frame_idx + 1) * step) - frame_idx * step, 0) AS BIGINT)
        AS frame_bytes_len,
      substring(text, frame_idx * step + 1,
        GREATEST(LEAST(n, (frame_idx + 1) * step) - frame_idx * step, 0)) AS frame_text
    FROM f"""


def _multimodal_meta_sql() -> str:
    return """
    SELECT doc_id, 'image/fake' AS mime,
      CAST(octet_length(encode(text)) AS INT) AS width,
      1 AS height,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents"""


def _text_quality_drift_sql(rel_threshold: float = 0.1, js_threshold: float = 0.1) -> str:
    """Replays text_quality_drift: per-doc token counts + quality scores
    (same unrounded expressions as _text_stats_sql), per-side means with
    relative shifts, and language-mix JS from the _lang_id_sql decision
    ladder, over the even/odd doc_id split."""
    lang_hits = ", ".join(
        f"len(list_filter(toks, t -> t IN ({words}))) AS hits_{lang}"
        for lang, words in _LANG_STOPS.items()
    )
    langs = sorted(_LANG_STOPS)
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " ELSE 'unknown' END"

    def rel(a: str, b: str) -> str:
        return (
            f"(CASE WHEN {a} <> 0 THEN ABS(({b} - {a}) / {a}) "
            f"WHEN {b} <> 0 THEN 1.0 ELSE 0.0 END)"
        )

    tok_shift = rel("ref_mean_tokens", "curr_mean_tokens")
    q_shift = rel("ref_mean_quality", "curr_mean_quality")
    return f"""
    WITH base AS (
      SELECT doc_id % 2 AS par,
        string_split_regex(trim(text), '\\s+') AS toks,
        LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) AS non_space,
        LENGTH(text) AS n_chars,
        text
      FROM documents),
    perdoc AS (
      SELECT par,
        len(toks) AS n_tokens,
        0.4 * LEAST(1.0, len(toks) / 50.0)
        + 0.3 * (CASE WHEN (CAST(non_space AS DOUBLE) / GREATEST(len(toks), 1))
                          BETWEEN 3 AND 8 THEN 1.0 ELSE 0.5 END)
        + 0.3 * LEAST(1.0,
            (CAST(len(list_filter(toks, t -> t IN ({_EN_STOPS}))) AS DOUBLE)
             / GREATEST(len(toks), 1)) * 5) AS quality,
        {lang_hits}
      FROM base),
    agg AS (
      SELECT
        SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS ref_n,
        SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS curr_n,
        AVG(CASE WHEN par = 0 THEN n_tokens END) AS ref_mean_tokens,
        AVG(CASE WHEN par = 1 THEN n_tokens END) AS curr_mean_tokens,
        AVG(CASE WHEN par = 0 THEN quality END) AS ref_mean_quality,
        AVG(CASE WHEN par = 1 THEN quality END) AS curr_mean_quality
      FROM perdoc),
    cells AS (
      SELECT {lang_case} AS detected_lang,
        SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS rc,
        SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS cc
      FROM perdoc GROUP BY 1),
    tot AS (SELECT SUM(rc) AS tr, SUM(cc) AS tc FROM cells),
    jsc AS (
      SELECT
        CAST(rc AS DOUBLE) / GREATEST(tr, 1) AS pp,
        CAST(cc AS DOUBLE) / GREATEST(tc, 1) AS qq
      FROM cells CROSS JOIN tot),
    js AS (
      SELECT sqrt(GREATEST(0.0, (
        SUM(CASE WHEN pp > 0 AND (pp + qq) / 2 > 0
                 THEN pp * log2(pp / ((pp + qq) / 2)) ELSE 0 END)
        + SUM(CASE WHEN qq > 0 AND (pp + qq) / 2 > 0
                   THEN qq * log2(qq / ((pp + qq) / 2)) ELSE 0 END)) / 2))
        AS lang_js
      FROM jsc)
    SELECT CAST(ref_n AS BIGINT) AS ref_n, CAST(curr_n AS BIGINT) AS curr_n,
      ROUND(ref_mean_tokens, {ROUND}) AS ref_mean_tokens,
      ROUND(curr_mean_tokens, {ROUND}) AS curr_mean_tokens,
      ROUND({tok_shift}, {ROUND}) AS token_shift,
      ROUND(ref_mean_quality, {ROUND}) AS ref_mean_quality,
      ROUND(curr_mean_quality, {ROUND}) AS curr_mean_quality,
      ROUND({q_shift}, {ROUND}) AS quality_shift,
      ROUND(lang_js, {ROUND}) AS lang_js,
      ({tok_shift} > {rel_threshold} OR {q_shift} > {rel_threshold}
       OR lang_js > {js_threshold}) AS drift_detected
    FROM agg CROSS JOIN js"""


def _embedding_drift_sql(
    cosine_threshold: float = 0.99, norm_threshold: float = 0.1
) -> str:
    """Replays embedding_drift: per-dimension means via parallel
    unnest + generate_subscripts, centroid cosine algebra, per-row norm
    averages (list_dot_product is a sequential fold like Spark's
    F.aggregate, so values agree to well under the 5-dp rounding)."""
    return f"""
    WITH t AS (SELECT vec_id % 2 AS par, embedding::DOUBLE[] AS e
               FROM embeddings WHERE embedding IS NOT NULL),
    norms AS (SELECT
        SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS ref_n,
        SUM(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS curr_n,
        AVG(CASE WHEN par = 0 THEN sqrt(list_dot_product(e, e)) END) AS ref_mean_norm,
        AVG(CASE WHEN par = 1 THEN sqrt(list_dot_product(e, e)) END) AS curr_mean_norm
      FROM t),
    exploded AS (SELECT par, unnest(e) AS v, generate_subscripts(e, 1) AS pos FROM t),
    d AS (SELECT pos,
        AVG(CASE WHEN par = 0 THEN v END) AS mr,
        AVG(CASE WHEN par = 1 THEN v END) AS mc
      FROM exploded GROUP BY pos),
    cent AS (SELECT COUNT(*) AS n_dims, SUM(mr * mc) AS dot,
        SUM(mr * mr) AS nr2, SUM(mc * mc) AS nc2,
        MAX(ABS(mr - mc)) AS max_dim_shift
      FROM d),
    j AS (SELECT *,
        dot / (sqrt(nr2) * sqrt(nc2)) AS cosv,
        CASE WHEN ref_mean_norm <> 0
             THEN ABS((curr_mean_norm - ref_mean_norm) / ref_mean_norm)
             WHEN curr_mean_norm <> 0 THEN 1.0 ELSE 0.0 END AS nshift
      FROM cent CROSS JOIN norms)
    SELECT CAST(n_dims AS INT) AS n_dims,
      CAST(ref_n AS BIGINT) AS ref_n, CAST(curr_n AS BIGINT) AS curr_n,
      ROUND(cosv, {ROUND}) AS centroid_cosine,
      ROUND(ref_mean_norm, {ROUND}) AS ref_mean_norm,
      ROUND(curr_mean_norm, {ROUND}) AS curr_mean_norm,
      ROUND(nshift, {ROUND}) AS norm_shift,
      ROUND(max_dim_shift, {ROUND}) AS max_dim_shift,
      (cosv < {cosine_threshold} OR nshift > {norm_threshold}) AS drift_detected
    FROM j"""


def _temporal_drift_sql(col: str = "l_shipdate") -> str:
    """Replays temporal_drift: epoch stats per side, 7-bucket day-of-week
    distributions (DuckDB dayofweek is 0=Sunday = Spark dayofweek − 1),
    JS over them, and the detection ladder (7-day mean shift / JS 0.1 /
    null 0.01 defaults)."""
    dow_sums = ",\n      ".join(
        f"SUM(CASE WHEN dw = {d} THEN 1 ELSE 0 END) AS dow{d}" for d in range(7)
    )

    def side(name: str, parity: int) -> str:
        return f"""{name} AS (
      SELECT COUNT(ep) AS n, COUNT(*) AS n_rows,
        SUM(CASE WHEN ep IS NULL THEN 1 ELSE 0 END) AS nulls,
        MIN(ep) AS mn, MAX(ep) AS mx, AVG(ep) AS mean,
      {dow_sums}
      FROM (SELECT epoch({col}) AS ep, dayofweek({col}) AS dw
            FROM lineitem WHERE l_orderkey % 2 = {parity}))"""

    js_terms = []
    for d in range(7):
        p = f"(CAST(r.dow{d} AS DOUBLE) / GREATEST(r.n, 1))"
        q = f"(CAST(c.dow{d} AS DOUBLE) / GREATEST(c.n, 1))"
        m = f"(({p} + {q}) / 2)"
        js_terms.append(f"CASE WHEN {p} > 0 AND {m} > 0 THEN {p} * log2({p} / {m}) ELSE 0 END")
        js_terms.append(f"CASE WHEN {q} > 0 AND {m} > 0 THEN {q} * log2({q} / {m}) ELSE 0 END")
    js = f"sqrt(GREATEST(0.0, ({' + '.join(js_terms)}) / 2))"

    mean_shift = "((c.mean - r.mean) / 86400.0)"
    range_change = (
        "(CASE WHEN (r.mx - r.mn) > 0 THEN ((c.mx - c.mn) - (r.mx - r.mn)) / (r.mx - r.mn) "
        "WHEN (c.mx - c.mn) > 0 THEN 1.0 ELSE 0.0 END)"
    )
    null_change = (
        "ABS(CAST(c.nulls AS DOUBLE) / GREATEST(c.n_rows, 1) "
        "- CAST(r.nulls AS DOUBLE) / GREATEST(r.n_rows, 1))"
    )
    return f"""
    WITH {side("r", 0)},
    {side("c", 1)}
    SELECT '{col}' AS column_name,
      CAST(r.n AS BIGINT) AS ref_n, CAST(c.n AS BIGINT) AS curr_n,
      ROUND(r.mn, {ROUND}) AS ref_min, ROUND(r.mx, {ROUND}) AS ref_max,
      ROUND(c.mn, {ROUND}) AS curr_min, ROUND(c.mx, {ROUND}) AS curr_max,
      ROUND({mean_shift}, {ROUND}) AS mean_shift_days,
      ROUND({range_change}, {ROUND}) AS range_change,
      ROUND({null_change}, {ROUND}) AS null_ratio_change,
      ROUND({js}, {ROUND}) AS dow_js,
      (ABS({mean_shift}) > 7.0 OR {js} > 0.1 OR {null_change} > 0.01)
        AS drift_detected
    FROM r CROSS JOIN c"""


def _dedup_survivors_sql(threshold: float = 0.3) -> str:
    """Anti-join twin over the recursive-CTE transitive closure: drop every
    clustered doc whose id is not its cluster's minimum."""
    return f"""
    WITH c AS ({_dedup_clusters_sql(threshold)}),
    losers AS (SELECT id FROM c WHERE id <> cluster_id)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id
    FROM documents d LEFT JOIN losers l ON d.doc_id = l.id
    WHERE l.id IS NULL"""


def _streaming_drift_alerts_sql(mean_threshold: float = 0.1) -> str:
    return f"""
    WITH prof AS (
      SELECT date_trunc('day', ts) AS w, event_type, AVG(value) AS mean
      FROM events GROUP BY 1, 2),
    base AS (SELECT event_type, AVG(value) AS ref_mean FROM events GROUP BY 1),
    j AS (
      SELECT prof.w, prof.event_type, prof.mean, base.ref_mean,
        CASE WHEN base.ref_mean <> 0 THEN ABS((prof.mean - base.ref_mean) / base.ref_mean)
             WHEN prof.mean <> 0 THEN 1.0 ELSE 0.0 END AS rel
      FROM prof LEFT JOIN base USING (event_type))
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      ROUND(mean, {ROUND}) AS mean,
      ROUND(ref_mean, {ROUND}) AS ref_mean,
      ROUND(rel, {ROUND}) AS mean_rel_diff,
      COALESCE(rel > {mean_threshold}, FALSE) AS drift_alert
    FROM j"""


def _pca_anomaly_sql() -> str:
    """Replays the pca_anomaly scoring path with the SAME literal
    orthonormal components as the Spark query (PCA_COMPONENTS): scaler fit
    on ref, reconstruction error ‖z‖²−‖Pᵀz‖², μ+3σ bound from ref errors,
    anomaly rates, change ratios, and the significance/severity ladder."""
    p = len(PCA_COLUMNS)
    k = len(PCA_COMPONENTS)
    valid = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan(CAST({c} AS DOUBLE))" for c in PCA_COLUMNS
    )
    sel = ", ".join(f"CAST({c} AS DOUBLE) AS c{i}" for i, c in enumerate(PCA_COLUMNS))
    fit = ", ".join(
        f"AVG(c{i}) AS mu{i}, STDDEV_SAMP(c{i}) AS sd{i}" for i in range(p)
    )
    zs = ", ".join(
        f"CASE WHEN sd{i} > 0 THEN (c{i} - mu{i}) / sd{i} ELSE 0.0 END AS z{i}"
        for i in range(p)
    )
    dots = ", ".join(
        " + ".join(f"({float(w)!r}) * z{i}" for i, w in enumerate(comp)) + f" AS d{j}"
        for j, comp in enumerate(PCA_COMPONENTS)
    )
    zlist = ", ".join(f"z{i}" for i in range(p))
    sq = " + ".join(f"z{i}*z{i}" for i in range(p))
    psq = " + ".join(f"d{j}*d{j}" for j in range(k))

    def err_cte(name: str, parity: int) -> str:
        return f"""{name} AS (
      SELECT ({sq}) - ({psq}) AS err FROM (
        SELECT {dots}, {zlist} FROM (
          SELECT {zs} FROM (
            SELECT {sel} FROM lineitem WHERE l_orderkey % 2 = {parity} AND {valid}
          ) CROSS JOIN fit)))"""

    return f"""
    WITH fit AS (
      SELECT {fit} FROM (
        SELECT {sel} FROM lineitem WHERE l_orderkey % 2 = 0 AND {valid})),
    {err_cte("referr", 0)},
    {err_cte("currerr", 1)},
    stats AS (SELECT AVG(err) AS mu_e, STDDEV_SAMP(err) AS sd_e FROM referr),
    ragg AS (SELECT COUNT(*) AS n, AVG(err) AS mean_err,
      SUM(CASE WHEN err > mu_e + 3.0 * sd_e THEN 1 ELSE 0 END) AS anom
      FROM referr CROSS JOIN stats),
    cagg AS (SELECT COUNT(*) AS n, AVG(err) AS mean_err,
      SUM(CASE WHEN err > mu_e + 3.0 * sd_e THEN 1 ELSE 0 END) AS anom
      FROM currerr CROSS JOIN stats),
    calc AS (SELECT
        r.anom AS ranom, c.anom AS canom,
        CASE WHEN r.n > 0 THEN CAST(r.anom AS DOUBLE) / r.n ELSE 0.0 END AS rratio,
        CASE WHEN c.n > 0 THEN CAST(c.anom AS DOUBLE) / c.n ELSE 0.0 END AS cratio,
        CASE WHEN r.mean_err > 0 THEN (c.mean_err - r.mean_err) / r.mean_err
             ELSE 0.0 END AS ec
      FROM ragg r CROSS JOIN cagg c),
    calc2 AS (SELECT *,
        CASE WHEN rratio > 0 THEN (cratio - rratio) / rratio
             WHEN cratio > 0 THEN 1.0 ELSE 0.0 END AS ac
      FROM calc)
    SELECT 'success' AS status,
      (ABS(ec) >= 0.3 OR ABS(ac) >= 0.5) AS is_significant,
      CAST(ranom AS BIGINT) AS ref_anomaly_count,
      CAST(canom AS BIGINT) AS curr_anomaly_count,
      ROUND(rratio, {ROUND}) AS ref_anomaly_ratio,
      ROUND(cratio, {ROUND}) AS curr_anomaly_ratio,
      ROUND(ec, {ROUND}) AS error_change,
      CASE WHEN (ABS(ec) >= 0.3 OR ABS(ac) >= 0.5)
                AND (ABS(ec) >= 0.5 OR ABS(ac) >= 1.0)
           THEN 'high' ELSE 'medium' END AS severity
    FROM calc2"""


# --------------------------------------------------------------------------
# Corpus-hygiene + sampling family (operators/quality.py, operators/sampling.py)
# --------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition diagnostics: duplicate-word
    fraction and top-2/3-gram char coverage with a combined flag."""
    from pyspark_data_drift_detector_spark.operators.quality import repetition_stats

    return _round_cols(
        repetition_stats(_documents(spark, sf_dir)),
        ["distinct_ratio", "dup_word_frac", "top_2gram_char_frac", "top_3gram_char_frac"],
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus boilerplate: 4-grams occurring in ≥3 distinct docs
    with document frequency and total occurrences."""
    from pyspark_data_drift_detector_spark.operators.quality import boilerplate_ngrams

    return boilerplate_ngrams(_documents(spark, sf_dir), n=4, min_doc_count=3)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 4-gram with the
    benchmark slice (doc_id % 50 == 0), via a broadcast n-gram semi-join."""
    from pyspark_data_drift_detector_spark.operators.quality import decontaminate

    docs = _documents(spark, sf_dir)
    return decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0), n=4)


def q_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional n-gram contamination (GPT-3-style): every document's
    share of distinct 4-grams appearing in the benchmark slice
    (doc_id % 25 == 0) — graded overlap, not just the binary hit of
    q_decontaminate."""
    from pyspark_data_drift_detector_spark.operators.quality import ngram_overlap

    docs = _documents(spark, sf_dir)
    out = ngram_overlap(docs, docs.filter(F.col("doc_id") % 25 == 0), n=4)
    return _round_cols(out, ["overlap_ratio"])


def _ngram_overlap_sql() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(t) - 3, 1) + 1),
        i -> array_to_string(t[i : i + 3], ' ')))) AS gram
      FROM toks),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0),
    per AS (
      SELECT g.doc_id, COUNT(*) AS n_ngrams,
        CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_matched
      FROM g LEFT JOIN bench b USING (gram) GROUP BY g.doc_id)
    SELECT doc_id, n_ngrams, n_matched,
      ROUND(n_matched / n_ngrams, {ROUND}) AS overlap_ratio,
      n_matched / n_ngrams >= 0.1 AS contaminated
    FROM per"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample (≈30 docs/stratum) from
    an md5-derived uniform variate — reproducible on any partitioning."""
    from pyspark_data_drift_detector_spark.operators.sampling import stratified_sample

    out = stratified_sample(_documents(spark, sf_dir), ["lang"], 30)
    return _round_cols(
        out.select("doc_id", "lang", "stratum_count", "sample_rate"), ["sample_rate"]
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash cut-points — rows
    never migrate between splits when the corpus grows."""
    from pyspark_data_drift_detector_spark.operators.sampling import hash_split

    out = hash_split(_documents(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split")


def q_windowed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-window drift: each 1-day window's profile vs the
    previous window's, per event_type — mean/volume shifts + flag."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import windowed_drift

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = windowed_drift(load_events(spark, sf_dir), window_duration="1 day")
    return _round_cols(
        out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "prev_n",
            "mean",
            "prev_mean",
            "mean_shift",
            "volume_shift",
            "drift_detected",
        ),
        ["mean", "prev_mean", "mean_shift", "volume_shift"],
    )


def _windowed_drift_sql() -> str:
    return f"""
    WITH prof AS (
      SELECT date_trunc('day', ts) AS window_start, event_type,
        COUNT(*) AS n, AVG(value) AS mean
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT window_start, event_type, n, mean,
        LAG(n) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_n,
        LAG(mean) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_mean
      FROM prof)
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      CAST(n AS BIGINT) AS n, CAST(prev_n AS BIGINT) AS prev_n,
      ROUND(mean, {ROUND}) AS mean, ROUND(prev_mean, {ROUND}) AS prev_mean,
      ROUND(ABS(mean - prev_mean) / GREATEST(ABS(prev_mean), 1e-9), {ROUND}) AS mean_shift,
      ROUND(ABS(n - prev_n) / prev_n, {ROUND}) AS volume_shift,
      (ABS(mean - prev_mean) / GREATEST(ABS(prev_mean), 1e-9) > 0.1
       OR ABS(n - prev_n) / prev_n > 0.5) AS drift_detected
    FROM lagged WHERE prev_n IS NOT NULL"""


def q_merged_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental profile: lineitem is profiled in 4 hash partitions whose
    additive states (sum/sumsq/min/max/counts) are then MERGED — no second
    scan. The oracle computes the same stats directly over the union, so
    the check proves the merge algebra is exact (ROUND-level for the float
    sums)."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        incremental_profile,
    )

    out = incremental_profile(
        _lineitem(spark, sf_dir),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "pmod(l_orderkey, 4)",
    )
    return _round_cols(
        out.select(
            "column_name", "n_rows", "n", "null_count", "null_ratio",
            "min", "max", "mean", "stddev",
        ),
        ["null_ratio", "min", "max", "mean", "stddev"],
    )


def _merged_profile_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
          COUNT({c}) AS n,
          CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS null_count,
          ROUND(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) / COUNT(*), {ROUND})
            AS null_ratio,
          ROUND(MIN(CAST({c} AS DOUBLE)), {ROUND}) AS min,
          ROUND(MAX(CAST({c} AS DOUBLE)), {ROUND}) AS max,
          ROUND(AVG(CAST({c} AS DOUBLE)), {ROUND}) AS mean,
          ROUND(STDDEV_SAMP(CAST({c} AS DOUBLE)), {ROUND}) AS stddev
        FROM lineitem"""
        for c in cols
    )
    return parts


def q_merged_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-vs-window drift straight from the partition summary table
    (hash partitions {0,1} vs {2,3}) — zero data re-scan; the weighted
    score renormalizes over the quantile-free metric set."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_drift,
        partitioned_profile,
    )

    parts = partitioned_profile(
        _lineitem(spark, sf_dir),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "pmod(l_orderkey, 4)",
    )
    out = merged_drift(parts, ["0", "1"], ["2", "3"])
    keep = [
        "column_name", "ref_n", "curr_n", "ref_mean", "curr_mean",
        "mean_relative_diff", "std_dev_relative_diff", "range_relative_diff",
        "null_diff", "drift_score", "drift_severity", "drift_detected",
    ]
    return _round_cols(
        out.select(*keep),
        ["ref_mean", "curr_mean", "mean_relative_diff", "std_dev_relative_diff",
         "range_relative_diff", "null_diff", "drift_score"],
    )


def q_merged_drift_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed drift from state tables WITH mergeable KLL quantile state:
    the additive profile states carry the deterministic metrics
    (value-matched against the oracle) and the per-window KLL sketch
    merges supply p25/p50/p75, so the score covers the full M16 metric
    set. The sketch estimates are checked against EXACT per-window
    rank bands (±0.015 — the ``merged_quantiles`` pattern), so the
    oracle pins both the algebra and the sketch wiring."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_drift,
        partitioned_profile,
        partitioned_quantiles,
    )

    cols = ["l_quantity", "l_extendedprice"]
    li = _lineitem(spark, sf_dir)
    prof_parts = partitioned_profile(li, cols, "pmod(l_orderkey, 4)")
    q_parts = partitioned_quantiles(li, cols, "pmod(l_orderkey, 4)")
    out = merged_drift(prof_parts, ["0", "1"], ["2", "3"], quantile_parts=q_parts)

    # exact per-window rank bands for all six (side, col, p) estimates in
    # ONE quantile gather: the r14 NumPy sort-gather engine
    # (profile._sorted_quantile_row, bit-identical to the conditional
    # `percentile(CASE WHEN side ...)` aggregates it replaces — same
    # per-side value sets, same interpolation) with one spec per
    # (side, column)
    from pyspark_data_drift_detector_spark.operators.profile import (
        _sorted_quantile_row,
    )

    probs = (0.25, 0.5, 0.75)
    band_probs = [
        x for p in probs for x in (max(p - 0.015, 0.0), min(p + 0.015, 1.0))
    ]
    specs = [
        (f"__b_{s}_{ci}", c, s == "r", None)
        for ci, c in enumerate(cols)
        for s in ("r", "c")
    ]
    band_structs = ", ".join(
        f"named_struct('column_name', '{c}',"
        + ", ".join(
            f" '{s}{int(p * 100)}_lo', __b_{s}_{ci}[{2 * pi}],"
            f" '{s}{int(p * 100)}_hi', __b_{s}_{ci}[{2 * pi + 1}]"
            for s in ("r", "c")
            for pi, p in enumerate(probs)
        )
        + ")"
        for ci, c in enumerate(cols)
    )
    bands = _sorted_quantile_row(
        li.withColumn("__side", F.expr("pmod(l_orderkey, 4) < 2")),
        specs,
        band_probs,
        side_col="__side",
    ).selectExpr(f"inline(array({band_structs}))")
    in_band = " AND ".join(
        f"{pre}_p{int(p * 100)} >= {s}{int(p * 100)}_lo"
        f" AND {pre}_p{int(p * 100)} <= {s}{int(p * 100)}_hi"
        for pre, s in (("ref", "r"), ("curr", "c"))
        for p in probs
    )
    return _round_cols(
        out.join(F.broadcast(bands), "column_name").selectExpr(
            "column_name",
            "ref_n",
            "curr_n",
            "ref_mean",
            "curr_mean",
            "mean_relative_diff",
            "null_diff",
            "median_relative_diff IS NOT NULL"
            " AND iqr_relative_diff IS NOT NULL AS quantiles_present",
            f"{in_band} AS within_tolerance",
        ),
        ["ref_mean", "curr_mean", "mean_relative_diff", "null_diff"],
    )


def _merged_drift_quantiles_sql() -> str:
    per_col = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
          COUNT(CASE WHEN (l_orderkey % 4) < 2 THEN {c} END) AS ref_n,
          COUNT(CASE WHEN (l_orderkey % 4) >= 2 THEN {c} END) AS curr_n,
          AVG(CASE WHEN (l_orderkey % 4) < 2
              THEN CAST({c} AS DOUBLE) END) AS ref_mean,
          AVG(CASE WHEN (l_orderkey % 4) >= 2
              THEN CAST({c} AS DOUBLE) END) AS curr_mean,
          CAST(SUM(CASE WHEN (l_orderkey % 4) < 2 AND {c} IS NULL
              THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(CASE WHEN (l_orderkey % 4) < 2 THEN 1 END) AS ref_nr,
          CAST(SUM(CASE WHEN (l_orderkey % 4) >= 2 AND {c} IS NULL
              THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(CASE WHEN (l_orderkey % 4) >= 2 THEN 1 END) AS curr_nr
        FROM lineitem"""
        for c in ("l_quantity", "l_extendedprice")
    )
    return f"""
    WITH s AS ({per_col})
    SELECT column_name, ref_n, curr_n,
      ROUND(ref_mean, {ROUND}) AS ref_mean,
      ROUND(curr_mean, {ROUND}) AS curr_mean,
      ROUND(CASE WHEN ref_mean = 0
              THEN CASE WHEN curr_mean != 0 THEN 1.0 ELSE 0.0 END
            ELSE (curr_mean - ref_mean) / ABS(ref_mean) END, {ROUND})
        AS mean_relative_diff,
      ROUND(COALESCE(curr_nr, 0.0) - COALESCE(ref_nr, 0.0), {ROUND}) AS null_diff,
      TRUE AS quantiles_present,
      TRUE AS within_tolerance
    FROM s"""


def _merged_drift_sql(
    cols: tuple[str, ...] = ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
) -> str:
    # metric weights present without quantiles: mean .25, std .15, null .1,
    # range .15 — mass 0.65, same accumulation order as the Spark scorer
    per_col = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
          COUNT(CASE WHEN side='r' THEN {c} END) AS ref_n,
          COUNT(CASE WHEN side='c' THEN {c} END) AS curr_n,
          AVG(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_mean,
          AVG(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_mean,
          STDDEV_SAMP(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_sd,
          STDDEV_SAMP(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_sd,
          MIN(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_mn,
          MAX(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_mx,
          MIN(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_mn,
          MAX(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_mx,
          SUM(CASE WHEN side='r' AND {c} IS NULL THEN 1 ELSE 0 END)
            / SUM(CASE WHEN side='r' THEN 1 ELSE 0 END) AS ref_nr,
          SUM(CASE WHEN side='c' AND {c} IS NULL THEN 1 ELSE 0 END)
            / SUM(CASE WHEN side='c' THEN 1 ELSE 0 END) AS curr_nr
        FROM (SELECT CASE WHEN l_orderkey % 4 <= 1 THEN 'r' ELSE 'c' END AS side, *
              FROM lineitem)
        """
        for c in cols
    )
    rel = (
        lambda r, c: f"CASE WHEN {r} IS NULL OR {c} IS NULL THEN NULL"
        f" WHEN {r} = 0 THEN CASE WHEN {c} != 0 THEN 1.0 ELSE 0.0 END"
        f" ELSE ({c} - {r}) / ABS({r}) END"
    )
    mean_rd = rel("ref_mean", "curr_mean")
    sd_rd = rel("ref_sd", "curr_sd")
    rng_rd = rel("(ref_mx - ref_mn)", "(curr_mx - curr_mn)")
    return f"""
    WITH p AS ({per_col}),
    m AS (SELECT *, {mean_rd} AS mean_rd, {sd_rd} AS sd_rd, {rng_rd} AS rng_rd,
            COALESCE(curr_nr, 0) - COALESCE(ref_nr, 0) AS null_diff FROM p),
    s AS (SELECT *,
        LEAST(1.0, (0.0 + ABS(mean_rd)*0.25 + ABS(sd_rd)*0.15
          + ABS(null_diff)*0.1 + ABS(rng_rd)*0.15) / (0.25+0.15+0.1+0.15)) AS score
      FROM m)
    SELECT column_name, ref_n, curr_n,
      ROUND(ref_mean, {ROUND}) AS ref_mean, ROUND(curr_mean, {ROUND}) AS curr_mean,
      ROUND(mean_rd, {ROUND}) AS mean_relative_diff,
      ROUND(sd_rd, {ROUND}) AS std_dev_relative_diff,
      ROUND(rng_rd, {ROUND}) AS range_relative_diff,
      ROUND(null_diff, {ROUND}) AS null_diff,
      ROUND(score, {ROUND}) AS drift_score,
      CASE WHEN score < 0.1 THEN 'None' WHEN score < 0.25 THEN 'Low'
           WHEN score < 0.5 THEN 'Medium' WHEN score < 0.75 THEN 'High'
           ELSE 'Critical' END AS drift_severity,
      (ABS(COALESCE(mean_rd, 0)) > 0.05 OR ABS(COALESCE(sd_rd, 0)) > 0.1
       OR ABS(COALESCE(null_diff, 0)) > 0.005 OR ABS(COALESCE(rng_rd, 0)) > 0.1)
        AS drift_detected
    FROM s"""


def q_merged_group_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension windowed drift from the group-sliced state table:
    lineitem profiled once per (hash partition, l_returnflag), windows
    {0,1} vs {2,3} scored per (group, column) with zero re-scan."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_group_drift,
        partitioned_group_profile,
    )

    parts = partitioned_group_profile(
        _lineitem(spark, sf_dir),
        ["l_quantity", "l_extendedprice"],
        "pmod(l_orderkey, 4)",
        "l_returnflag",
    )
    out = merged_group_drift(parts, ["0", "1"], ["2", "3"])
    keep = [
        "group_value", "column_name", "ref_n", "curr_n", "ref_mean",
        "curr_mean", "mean_relative_diff", "std_dev_relative_diff",
        "range_relative_diff", "null_diff", "drift_score", "drift_severity",
        "drift_detected",
    ]
    return _round_cols(
        out.select(*keep),
        ["ref_mean", "curr_mean", "mean_relative_diff", "std_dev_relative_diff",
         "range_relative_diff", "null_diff", "drift_score"],
    )


def _merged_group_drift_sql(
    cols: tuple[str, ...] = ("l_quantity", "l_extendedprice"),
) -> str:
    per_col = " UNION ALL ".join(
        f"""
        SELECT CAST(l_returnflag AS VARCHAR) AS group_value,
          '{c}' AS column_name,
          COUNT(CASE WHEN side='r' THEN {c} END) AS ref_n,
          COUNT(CASE WHEN side='c' THEN {c} END) AS curr_n,
          AVG(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_mean,
          AVG(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_mean,
          STDDEV_SAMP(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_sd,
          STDDEV_SAMP(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_sd,
          MIN(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_mn,
          MAX(CASE WHEN side='r' THEN CAST({c} AS DOUBLE) END) AS ref_mx,
          MIN(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_mn,
          MAX(CASE WHEN side='c' THEN CAST({c} AS DOUBLE) END) AS curr_mx,
          SUM(CASE WHEN side='r' AND {c} IS NULL THEN 1 ELSE 0 END)
            / SUM(CASE WHEN side='r' THEN 1 ELSE 0 END) AS ref_nr,
          SUM(CASE WHEN side='c' AND {c} IS NULL THEN 1 ELSE 0 END)
            / SUM(CASE WHEN side='c' THEN 1 ELSE 0 END) AS curr_nr
        FROM (SELECT CASE WHEN l_orderkey % 4 <= 1 THEN 'r' ELSE 'c' END AS side, *
              FROM lineitem)
        GROUP BY 1
        """
        for c in cols
    )
    rel = (
        lambda r, c: f"CASE WHEN {r} IS NULL OR {c} IS NULL THEN NULL"
        f" WHEN {r} = 0 THEN CASE WHEN {c} != 0 THEN 1.0 ELSE 0.0 END"
        f" ELSE ({c} - {r}) / ABS({r}) END"
    )
    mean_rd = rel("ref_mean", "curr_mean")
    sd_rd = rel("ref_sd", "curr_sd")
    rng_rd = rel("(ref_mx - ref_mn)", "(curr_mx - curr_mn)")
    return f"""
    WITH p AS ({per_col}),
    m AS (SELECT *, {mean_rd} AS mean_rd, {sd_rd} AS sd_rd, {rng_rd} AS rng_rd,
            COALESCE(curr_nr, 0) - COALESCE(ref_nr, 0) AS null_diff FROM p),
    s AS (SELECT *,
        LEAST(1.0, (0.0 + ABS(mean_rd)*0.25 + ABS(sd_rd)*0.15
          + ABS(null_diff)*0.1 + ABS(rng_rd)*0.15) / (0.25+0.15+0.1+0.15)) AS score
      FROM m)
    SELECT group_value, column_name, ref_n, curr_n,
      ROUND(ref_mean, {ROUND}) AS ref_mean, ROUND(curr_mean, {ROUND}) AS curr_mean,
      ROUND(mean_rd, {ROUND}) AS mean_relative_diff,
      ROUND(sd_rd, {ROUND}) AS std_dev_relative_diff,
      ROUND(rng_rd, {ROUND}) AS range_relative_diff,
      ROUND(null_diff, {ROUND}) AS null_diff,
      ROUND(score, {ROUND}) AS drift_score,
      CASE WHEN score < 0.1 THEN 'None' WHEN score < 0.25 THEN 'Low'
           WHEN score < 0.5 THEN 'Medium' WHEN score < 0.75 THEN 'High'
           ELSE 'Critical' END AS drift_severity,
      (ABS(COALESCE(mean_rd, 0)) > 0.05 OR ABS(COALESCE(sd_rd, 0)) > 0.1
       OR ABS(COALESCE(null_diff, 0)) > 0.005 OR ABS(COALESCE(rng_rd, 0)) > 0.1)
        AS drift_detected
    FROM s"""


def q_merged_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18/M20 from the additive category-count state table: orders is
    counted per hash partition ONCE (``partitioned_categories``), then
    windows {0,1} vs {2,3} are merged and scored with zero data re-scan.
    The oracle replays the state-table merge with GROUP BY, proving the
    category merge algebra is exact."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_categorical_drift,
        partitioned_categories,
    )

    parts = partitioned_categories(
        spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet"),
        ["o_orderstatus", "o_orderpriority"],
        "pmod(o_orderkey, 4)",
    )
    out = merged_categorical_drift(parts, ["0", "1"], ["2", "3"])
    rounded = ["js_distance", "chi_square", "p_value", "null_diff", "drift_score"]
    return _round_cols(
        out.select(
            "column_name",
            *rounded,
            F.col("degrees_of_freedom").cast("int").alias("degrees_of_freedom"),
            F.col("new_categories").cast("long").alias("new_categories"),
            F.col("missing_categories").cast("long").alias("missing_categories"),
            "drift_detected",
        ),
        rounded,
    )


def _merged_categorical_drift_sql(
    table: str = "orders",
    cols: tuple[str, ...] = ("o_orderstatus", "o_orderpriority"),
    pid: str = "o_orderkey % 4",
) -> str:
    # the additive state table the Spark side builds, replayed with GROUP BY
    state = " UNION ALL ".join(
        f"""SELECT {pid} AS pid, '{c}' AS column_name,
              CAST({c} AS VARCHAR) AS value, COUNT(*) AS cnt
            FROM {table} GROUP BY 1, 2, 3"""
        for c in cols
    )
    cv = (
        "CASE WHEN dof > 10 THEN dof + SQRT(2.0*dof) "
        "WHEN dof = 1 THEN 3.84 WHEN dof = 2 THEN 5.99 WHEN dof = 3 THEN 7.81 "
        "WHEN dof = 4 THEN 9.49 WHEN dof = 5 THEN 11.07 WHEN dof = 6 THEN 12.59 "
        "WHEN dof = 7 THEN 14.07 WHEN dof = 8 THEN 15.51 WHEN dof = 9 THEN 16.92 "
        "WHEN dof = 10 THEN 18.31 ELSE 3.84 END"
    )
    p_ladder = (
        f"CASE WHEN chi < 0.001 THEN 1.0 WHEN chi > 3*({cv}) THEN 0.001 "
        f"WHEN chi > 2*({cv}) THEN 0.01 WHEN chi > ({cv}) THEN 0.05 "
        f"ELSE LEAST(1.0, GREATEST(0.05, 1.0 - (chi / ({cv})) * 0.95)) END"
    )
    chi_score = (
        "CASE WHEN pv.p <= 0.001 THEN 1.0 WHEN pv.p <= 0.01 THEN 0.8 "
        "WHEN pv.p <= 0.05 THEN 0.6 WHEN pv.p <= 0.1 THEN 0.3 ELSE 0.0 END"
    )
    return f"""
    WITH state AS ({state}),
         cells AS (
           SELECT column_name, value,
             SUM(CASE WHEN pid IN (0, 1) THEN cnt ELSE 0 END) AS ref_cnt,
             SUM(CASE WHEN pid IN (2, 3) THEN cnt ELSE 0 END) AS curr_cnt
           FROM state GROUP BY 1, 2
         ),
         tot AS (
           SELECT column_name,
             SUM(ref_cnt) AS ref_n_rows, SUM(curr_cnt) AS curr_n_rows,
             SUM(CASE WHEN value IS NOT NULL THEN ref_cnt ELSE 0 END) AS ref_total,
             SUM(CASE WHEN value IS NOT NULL THEN curr_cnt ELSE 0 END) AS curr_total
           FROM cells GROUP BY 1
         ),
         enr AS (
           SELECT c.*, t.ref_n_rows, t.curr_n_rows, t.ref_total, t.curr_total,
             CASE WHEN c.value IS NOT NULL AND t.ref_total > 0
                  THEN CAST(c.ref_cnt AS DOUBLE) / t.ref_total ELSE 0.0 END AS p,
             CASE WHEN c.value IS NOT NULL AND t.curr_total > 0
                  THEN CAST(c.curr_cnt AS DOUBLE) / t.curr_total ELSE 0.0 END AS q
           FROM cells c JOIN tot t USING (column_name)
         ),
         js AS (
           SELECT column_name,
             SQRT(GREATEST(0.0, (
               SUM(CASE WHEN value IS NOT NULL AND p > 0 AND (p+q)/2 > 0
                        THEN p * LOG2(p / ((p+q)/2)) ELSE 0 END) +
               SUM(CASE WHEN value IS NOT NULL AND q > 0 AND (p+q)/2 > 0
                        THEN q * LOG2(q / ((p+q)/2)) ELSE 0 END)
             ) / 2)) AS js_distance,
             CAST(SUM(CASE WHEN value IS NOT NULL AND ref_cnt = 0 AND curr_cnt > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS new_categories,
             CAST(SUM(CASE WHEN value IS NOT NULL AND curr_cnt = 0 AND ref_cnt > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS missing_categories,
             CAST(SUM(CASE WHEN value IS NOT NULL AND ref_cnt > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS ref_categories,
             CAST(SUM(CASE WHEN value IS NULL THEN ref_cnt ELSE 0 END) AS DOUBLE)
               / MAX(ref_n_rows) AS ref_null_part,
             CAST(SUM(CASE WHEN value IS NULL THEN curr_cnt ELSE 0 END) AS DOUBLE)
               / MAX(curr_n_rows) AS curr_null_part
           FROM enr GROUP BY column_name
         ),
         chi2 AS (
           SELECT column_name, SUM(contrib) AS chi,
             CAST(COUNT(CASE WHEN value IS NOT NULL THEN 1 END) - 1 AS INT) AS dof
           FROM (
             SELECT column_name, value,
               CASE WHEN value IS NOT NULL AND exp_ref >= 5 AND exp_curr >= 5 THEN
                 POW(ref_cnt - exp_ref, 2)/exp_ref + POW(curr_cnt - exp_curr, 2)/exp_curr
               ELSE 0 END AS contrib
             FROM (
               SELECT column_name, value, ref_cnt, curr_cnt,
                 CAST(ref_total AS DOUBLE) * (ref_cnt + curr_cnt)
                   / (ref_total + curr_total) AS exp_ref,
                 CAST(curr_total AS DOUBLE) * (ref_cnt + curr_cnt)
                   / (ref_total + curr_total) AS exp_curr
               FROM enr
             )
           ) GROUP BY column_name
         ),
         pv AS (SELECT column_name, chi, dof, {p_ladder} AS p FROM chi2)
    SELECT js.column_name,
      ROUND(js.js_distance, {ROUND}) AS js_distance,
      ROUND(pv.chi, {ROUND}) AS chi_square,
      ROUND(pv.p, {ROUND}) AS p_value,
      ROUND(js.curr_null_part - js.ref_null_part, {ROUND}) AS null_diff,
      ROUND(LEAST(1.0,
        0.4 * LEAST(1.0, js.js_distance * 4)
        + 0.3 * ({chi_score})
        + 0.1 * LEAST(1.0, ABS(js.curr_null_part - js.ref_null_part) * 10)
        + 0.2 * LEAST(1.0, GREATEST(
            CAST(js.new_categories AS DOUBLE)/GREATEST(js.ref_categories, 1),
            CAST(js.missing_categories AS DOUBLE)/GREATEST(js.ref_categories, 1)) * 2)
      ), {ROUND}) AS drift_score,
      pv.dof AS degrees_of_freedom,
      js.new_categories, js.missing_categories,
      (js.js_distance > 0.03 OR pv.p < 0.05
       OR ABS(js.curr_null_part - js.ref_null_part) > 0.005
       OR CAST(js.new_categories AS DOUBLE)/GREATEST(js.ref_categories,1) > 0.03
       OR CAST(js.missing_categories AS DOUBLE)/GREATEST(js.ref_categories,1) > 0.03)
        AS drift_detected
    FROM js JOIN pv USING (column_name)"""


def q_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental drift: numeric + categorical state tables
    built once per hash partition of lineitem, windows {0,1} vs {2,3}
    scored with ZERO data re-scan (pipeline.detect_drift_incremental).
    Oracle: the two state-replay SQL builders composed into the same slim
    result projection."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        partitioned_categories,
        partitioned_profile,
    )
    from pyspark_data_drift_detector_spark.pipeline import detect_drift_incremental

    li = _lineitem(spark, sf_dir)
    prof_state = partitioned_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "pmod(l_orderkey, 4)",
    )
    cat_state = partitioned_categories(
        li, ["l_returnflag", "l_linestatus"], "pmod(l_orderkey, 4)"
    )
    out = detect_drift_incremental(prof_state, cat_state, ["0", "1"], ["2", "3"])
    return _round_cols(out, ["drift_score"])


def _incremental_pipeline_sql() -> str:
    sev = (
        "CASE WHEN drift_score < 0.1 THEN 'None' WHEN drift_score < 0.25 THEN 'Low'"
        " WHEN drift_score < 0.5 THEN 'Medium' WHEN drift_score < 0.75 THEN 'High'"
        " ELSE 'Critical' END"
    )
    return f"""
    SELECT column_name, 'numerical' AS column_type,
           drift_score, drift_severity, drift_detected
    FROM ({_merged_drift_sql()})
    UNION ALL
    SELECT column_name, 'categorical' AS column_type,
           drift_score, {sev} AS drift_severity, drift_detected
    FROM ({_merged_categorical_drift_sql(
        table="lineitem",
        cols=("l_returnflag", "l_linestatus"),
        pid="l_orderkey % 4",
    )})"""


def q_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-field profile of the events.props JSON payload column."""
    from pyspark_data_drift_detector_spark.operators.semistructured import (
        json_field_stats,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    out = json_field_stats(load_events(spark, sf_dir), "props", {"k": "bigint"})
    return _round_cols(out, ["null_ratio", "min", "max", "mean"])


def _json_profile_sql() -> str:
    return f"""
    WITH x AS (SELECT TRY_CAST(props->>'k' AS BIGINT) AS k FROM events)
    SELECT 'k' AS field, 'bigint' AS type,
      COUNT(*) AS n_rows, COUNT(k) AS n,
      CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      ROUND(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) / COUNT(*), {ROUND})
        AS null_ratio,
      ROUND(MIN(CAST(k AS DOUBLE)), {ROUND}) AS min,
      ROUND(MAX(CAST(k AS DOUBLE)), {ROUND}) AS max,
      ROUND(AVG(CAST(k AS DOUBLE)), {ROUND}) AS mean,
      COUNT(DISTINCT k) AS distinct_count
    FROM x"""


def q_json_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric drift over the JSON payload field k, even/odd event split —
    the full M16 scoring pipeline applied to an extracted field."""
    from pyspark_data_drift_detector_spark.operators.semistructured import (
        json_field_drift,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    ev = load_events(spark, sf_dir)
    out = json_field_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "props",
        {"k": "bigint"},
    )
    keep = [
        "column_name",
        "ref_n",
        "curr_n",
        "ref_mean",
        "curr_mean",
        "mean_relative_diff",
        "median_relative_diff",
        "std_dev_relative_diff",
        "drift_score",
        "drift_severity",
        "drift_detected",
    ]
    return _round_cols(
        out.select(*keep),
        ["ref_mean", "curr_mean", "mean_relative_diff", "median_relative_diff",
         "std_dev_relative_diff", "drift_score"],
    )


def _json_drift_sql() -> str:
    # replay: extract k per side, compute the M16 metrics the kept columns
    # expose (same weighted-score math as _numeric_drift_sql, restricted to
    # one column)
    return f"""
    WITH x AS (SELECT CASE WHEN event_id % 2 = 0 THEN 'r' ELSE 'c' END AS side,
                      TRY_CAST(props->>'k' AS BIGINT) AS k FROM events),
    prof AS (SELECT side, COUNT(*) AS n_rows, COUNT(k) AS n,
        SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS nulls,
        AVG(CAST(k AS DOUBLE)) AS mean, STDDEV_SAMP(CAST(k AS DOUBLE)) AS sd,
        quantile_cont(CAST(k AS DOUBLE), 0.5) AS med,
        quantile_cont(CAST(k AS DOUBLE), 0.25) AS p25,
        quantile_cont(CAST(k AS DOUBLE), 0.75) AS p75,
        MIN(CAST(k AS DOUBLE)) AS mn, MAX(CAST(k AS DOUBLE)) AS mx
      FROM x GROUP BY side),
    j AS (SELECT
        r.n AS ref_n, c.n AS curr_n, r.mean AS ref_mean, c.mean AS curr_mean,
        r.nulls / r.n_rows AS ref_nr, c.nulls / c.n_rows AS curr_nr,
        CASE WHEN r.mean = 0 THEN CASE WHEN c.mean != 0 THEN 1.0 ELSE 0.0 END
             ELSE (c.mean - r.mean) / ABS(r.mean) END AS mean_rd,
        CASE WHEN r.med = 0 THEN CASE WHEN c.med != 0 THEN 1.0 ELSE 0.0 END
             ELSE (c.med - r.med) / ABS(r.med) END AS med_rd,
        CASE WHEN r.sd = 0 THEN CASE WHEN c.sd != 0 THEN 1.0 ELSE 0.0 END
             ELSE (c.sd - r.sd) / ABS(r.sd) END AS sd_rd,
        CASE WHEN r.p75 - r.p25 = 0 THEN CASE WHEN c.p75 - c.p25 != 0 THEN 1.0 ELSE 0.0 END
             ELSE ((c.p75 - c.p25) - (r.p75 - r.p25)) / ABS(r.p75 - r.p25) END AS iqr_rd,
        CASE WHEN r.mx - r.mn = 0 THEN CASE WHEN c.mx - c.mn != 0 THEN 1.0 ELSE 0.0 END
             ELSE ((c.mx - c.mn) - (r.mx - r.mn)) / ABS(r.mx - r.mn) END AS rng_rd
      FROM (SELECT * FROM prof WHERE side='r') r, (SELECT * FROM prof WHERE side='c') c),
    s AS (SELECT *,
        curr_nr - ref_nr AS null_diff,
        LEAST(1.0, (0.0 + ABS(mean_rd)*0.25 + ABS(med_rd)*0.2 + ABS(sd_rd)*0.15
          + ABS(iqr_rd)*0.15 + ABS(null_diff)*0.1 + ABS(rng_rd)*0.15)
          / (0.25+0.2+0.15+0.15+0.1+0.15)) AS score
      FROM j)
    SELECT 'k' AS column_name, ref_n, curr_n,
      ROUND(ref_mean, {ROUND}) AS ref_mean, ROUND(curr_mean, {ROUND}) AS curr_mean,
      ROUND(mean_rd, {ROUND}) AS mean_relative_diff,
      ROUND(med_rd, {ROUND}) AS median_relative_diff,
      ROUND(sd_rd, {ROUND}) AS std_dev_relative_diff,
      ROUND(score, {ROUND}) AS drift_score,
      CASE WHEN score < 0.1 THEN 'None' WHEN score < 0.25 THEN 'Low'
           WHEN score < 0.5 THEN 'Medium' WHEN score < 0.75 THEN 'High'
           ELSE 'Critical' END AS drift_severity,
      (ABS(mean_rd) > 0.05 OR ABS(med_rd) > 0.05 OR ABS(sd_rd) > 0.1
       OR ABS(iqr_rd) > 0.1 OR ABS(null_diff) > 0.005 OR ABS(rng_rd) > 0.1)
        AS drift_detected
    FROM s"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc avg log-prob + perplexity under the corpus unigram LM."""
    from pyspark_data_drift_detector_spark.operators.corpus import unigram_logprob

    out = unigram_logprob(_documents(spark, sf_dir))
    return _round_cols(out, ["avg_logprob", "perplexity"])


def _unigram_logprob_sql() -> str:
    return f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    v AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS total FROM v)
    SELECT doc_id, COUNT(*) AS n_tokens,
      ROUND(AVG(LN(cnt / total)), {ROUND}) AS avg_logprob,
      ROUND(EXP(-AVG(LN(cnt / total))), {ROUND}) AS perplexity
    FROM t JOIN v USING (token) CROSS JOIN tot
    GROUP BY doc_id"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF (rounded-score
    rank so the ordering is libm-portable)."""
    from pyspark_data_drift_detector_spark.operators.corpus import tfidf_keywords

    out = tfidf_keywords(_documents(spark, sf_dir), k=3)
    return _round_cols(out, ["tfidf"])


def _tfidf_keywords_sql() -> str:
    return f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    s AS (SELECT doc_id, token, tf, df, tf * LN(n_docs / df) AS tfidf
          FROM tf JOIN dfq USING (token) CROSS JOIN n),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY ROUND(tfidf, 9) DESC, token ASC) AS rank FROM s)
    SELECT doc_id, CAST(rank AS INT) AS rank, token,
      CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      ROUND(tfidf, {ROUND}) AS tfidf
    FROM r WHERE rank <= 3"""


def q_group_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF topic labels per source: top-3 characteristic tokens of
    every source group under the BERTopic class-based formula (plain
    per-group IDF zeroes out on this shared-vocabulary corpus);
    rounded-score + token tie-break."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        group_keywords,
    )

    docs = _documents(spark, sf_dir)
    return _round_cols(
        group_keywords(docs, "source", k=3), ["group_share", "score"]
    )


def _group_keywords_sql(k: int = 3) -> str:
    return f"""
    WITH tf AS (
      SELECT source AS group_key, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents) t
      GROUP BY 1, 2),
    ct AS (SELECT group_key, CAST(SUM(tf) AS BIGINT) AS class_total
           FROM tf GROUP BY 1),
    gt AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS global_tf
           FROM tf GROUP BY 1),
    tot AS (SELECT CAST(SUM(class_total) AS BIGINT) AS total_tokens,
              CAST(COUNT(*) AS BIGINT) AS n_groups
            FROM ct),
    s AS (
      SELECT t.group_key, t.token, t.tf,
        t.tf / CAST(c.class_total AS DOUBLE) AS group_share,
        (t.tf / CAST(c.class_total AS DOUBLE))
          * ln(CAST(1.0 AS DOUBLE)
               + (tot.total_tokens / CAST(tot.n_groups AS DOUBLE))
                 / gt.global_tf) AS score
      FROM tf t
      JOIN ct c ON t.group_key IS NOT DISTINCT FROM c.group_key
      JOIN gt ON t.token = gt.token
      CROSS JOIN tot),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY group_key
        ORDER BY ROUND(score, 9) DESC, token ASC) AS rank
      FROM s)
    SELECT group_key, CAST(rank AS INT) AS rank, token, tf,
      ROUND(group_share, {ROUND}) AS group_share,
      ROUND(score, {ROUND}) AS score
    FROM r WHERE rank <= {k}"""


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary drift over the even/odd doc split: type counts,
    new/lost types, token-level OOV rate."""
    from pyspark_data_drift_detector_spark.operators.corpus import vocab_drift

    docs = _documents(spark, sf_dir)
    out = vocab_drift(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    )
    return _round_cols(out, ["oov_token_rate"])


def _vocab_drift_sql() -> str:
    return f"""
    WITH t AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'r' ELSE 'c' END AS side,
             unnest(string_split(text, ' ')) AS token
      FROM documents),
    cells AS (SELECT token,
        SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS ref_cnt,
        SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS curr_cnt
      FROM t GROUP BY 1),
    agg AS (SELECT
        SUM(CASE WHEN ref_cnt > 0 THEN 1 ELSE 0 END) AS ref_types,
        SUM(CASE WHEN curr_cnt > 0 THEN 1 ELSE 0 END) AS curr_types,
        SUM(ref_cnt) AS ref_tokens, SUM(curr_cnt) AS curr_tokens,
        SUM(CASE WHEN curr_cnt > 0 AND ref_cnt = 0 THEN 1 ELSE 0 END) AS new_types,
        SUM(CASE WHEN ref_cnt > 0 AND curr_cnt = 0 THEN 1 ELSE 0 END) AS lost_types,
        SUM(CASE WHEN ref_cnt = 0 THEN curr_cnt ELSE 0 END) AS oov
      FROM cells)
    SELECT CAST(ref_types AS BIGINT) AS ref_types,
      CAST(curr_types AS BIGINT) AS curr_types,
      CAST(ref_tokens AS BIGINT) AS ref_tokens,
      CAST(curr_tokens AS BIGINT) AS curr_tokens,
      CAST(new_types AS BIGINT) AS new_types,
      CAST(lost_types AS BIGINT) AS lost_types,
      ROUND(oov / GREATEST(curr_tokens, 1), {ROUND}) AS oov_token_rate,
      oov / GREATEST(curr_tokens, 1) > 0.05 AS drift_detected
    FROM agg"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream via F.session_window
    (one shuffle, streaming-compatible). Strict-> gap rule: events exactly
    `gap` apart merge (pinned by tests/test_temporal_sessions.py)."""
    from pyspark_data_drift_detector_spark.operators.temporal import sessionize
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = sessionize(load_events(spark, sf_dir), gap="4 hours")
    return _round_cols(
        out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
            # duration_sec is NOT rounded: µs-quantized durations sit exactly
            # on the 5-decimal rounding boundary, where Spark (decimal
            # half-up) and DuckDB (binary half-away) disagree; unrounded,
            # both engines derive the identical double from the same integer
            # microsecond subtraction.
            "duration_sec",
        ),
        ["total_value"],
    )


def _sessionize_sql() -> str:
    return f"""
    WITH o AS (
      SELECT user_id, ts, value,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w > INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid FROM o)
    SELECT user_id,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      COUNT(*) AS n_events,
      ROUND(SUM(value), {ROUND}) AS total_value,
      (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_sec
    FROM s GROUP BY user_id, sid"""


def q_session_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain behavioral drift: events split BY USER (sessions
    never straddle the split), each side sessionized, M16 scoring over
    n_events / total_value / duration_sec."""
    from pyspark_data_drift_detector_spark.operators.temporal import session_drift
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    out = session_drift(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )
    keep = [
        "column_name", "ref_n", "curr_n", "ref_mean", "curr_mean",
        "mean_relative_diff", "median_relative_diff", "std_dev_relative_diff",
        "iqr_relative_diff", "range_relative_diff", "null_diff",
        "drift_score", "drift_severity", "drift_detected",
    ]
    return _round_cols(
        out.select(*keep),
        ["ref_mean", "curr_mean", "mean_relative_diff", "median_relative_diff",
         "std_dev_relative_diff", "iqr_relative_diff", "range_relative_diff",
         "null_diff", "drift_score"],
    )


def _session_drift_sql() -> str:
    def sessions(side_pred: str) -> str:
        return f"""
        SELECT CAST(n_events AS DOUBLE) AS n_events,
               CAST(total_value AS DOUBLE) AS total_value, duration_sec
        FROM (
          SELECT user_id, sid, COUNT(*) AS n_events, SUM(value) AS total_value,
            (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_sec
          FROM (
            SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM (
              SELECT user_id, ts, value,
                CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w > INTERVAL 4 HOUR THEN 1 ELSE 0
                END AS new_s
              FROM events WHERE {side_pred}
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)))
          GROUP BY user_id, sid)"""

    def prof(name: str, src: str) -> str:
        cols = ["n_events", "total_value", "duration_sec"]
        parts = [
            f"""SELECT '{c}' AS column_name,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count,
              CAST(MIN({c}) AS DOUBLE) AS mn, CAST(MAX({c}) AS DOUBLE) AS mx,
              CAST(AVG({c}) AS DOUBLE) AS mean,
              CAST(STDDEV_SAMP({c}) AS DOUBLE) AS stddev,
              CAST(quantile_cont({c}, 0.25) AS DOUBLE) AS p25,
              CAST(quantile_cont({c}, 0.50) AS DOUBLE) AS p50,
              CAST(quantile_cont({c}, 0.75) AS DOUBLE) AS p75
            FROM {src}"""
            for c in cols
        ]
        return f"{name} AS ({' UNION ALL '.join(parts)})"

    rel = {
        "mean": _REL.format(rv="mean", cv="mean"),
        "median": _REL.format(rv="p50", cv="p50"),
        "std": _REL.format(rv="stddev", cv="stddev"),
        "iqr": (
            "CASE WHEN (r.p75 - r.p25) = 0 THEN (CASE WHEN (c.p75 - c.p25) <> 0"
            " THEN 1.0 ELSE 0.0 END) ELSE ((c.p75 - c.p25) - (r.p75 - r.p25))"
            " / ABS(r.p75 - r.p25) END"
        ),
        "range": (
            "CASE WHEN (r.mx - r.mn) = 0 THEN (CASE WHEN (c.mx - c.mn) <> 0"
            " THEN 1.0 ELSE 0.0 END) ELSE ((c.mx - c.mn) - (r.mx - r.mn))"
            " / ABS(r.mx - r.mn) END"
        ),
    }
    null_diff = (
        "(CAST(c.null_count AS DOUBLE)/c.n_rows"
        " - CAST(r.null_count AS DOUBLE)/r.n_rows)"
    )
    score = (
        f"LEAST(1.0, 0.25*ABS({rel['mean']}) + 0.2*ABS({rel['median']})"
        f" + 0.15*ABS({rel['std']}) + 0.15*ABS({rel['iqr']})"
        f" + 0.1*ABS({null_diff}) + 0.15*ABS({rel['range']}))"
    )
    detected = (
        f"(ABS({rel['mean']}) > 0.05 OR ABS({rel['median']}) > 0.05"
        f" OR ABS({rel['std']}) > 0.1 OR ABS({rel['iqr']}) > 0.1"
        f" OR ABS({null_diff}) > 0.005 OR ABS({rel['range']}) > 0.1)"
    )
    return f"""
    WITH rsess AS ({sessions('user_id % 2 = 0')}),
         csess AS ({sessions('user_id % 2 = 1')}),
         {prof('r0', 'rsess')}, {prof('c0', 'csess')}
    SELECT r.column_name,
      CAST(r.n_rows - r.null_count AS BIGINT) AS ref_n,
      CAST(c.n_rows - c.null_count AS BIGINT) AS curr_n,
      ROUND(r.mean, {ROUND}) AS ref_mean, ROUND(c.mean, {ROUND}) AS curr_mean,
      ROUND({rel['mean']}, {ROUND}) AS mean_relative_diff,
      ROUND({rel['median']}, {ROUND}) AS median_relative_diff,
      ROUND({rel['std']}, {ROUND}) AS std_dev_relative_diff,
      ROUND({rel['iqr']}, {ROUND}) AS iqr_relative_diff,
      ROUND({rel['range']}, {ROUND}) AS range_relative_diff,
      ROUND({null_diff}, {ROUND}) AS null_diff,
      ROUND({score}, {ROUND}) AS drift_score,
      CASE WHEN {score} < 0.1 THEN 'None' WHEN {score} < 0.25 THEN 'Low'
           WHEN {score} < 0.5 THEN 'Medium' WHEN {score} < 0.75 THEN 'High'
           ELSE 'Critical' END AS drift_severity,
      {detected} AS drift_detected
    FROM r0 r JOIN c0 c ON r.column_name = c.column_name"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join (operators.temporal.asof_join): every
    non-error event picks up the latest prior error event's value per
    user — union + running last(ignorenulls) window, ONE shuffle, no
    range-join row explosion. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from pyspark_data_drift_detector_spark.operators.temporal import asof_join
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") != "error").select(
        "event_id", "user_id", "ts", "value"
    )
    # (user_id, ts) must uniquely identify right rows: max_by event keeps
    # the highest-id error at a duplicated timestamp deterministically
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("err_event_id"),
            F.max_by("value", "event_id").alias("err_value"),
        )
    )
    out = asof_join(left, right, ts_col="ts", by="user_id")
    return _round_cols(
        out.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "value",
            F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_asof"),
            F.col("err_event_id_asof").cast("long").alias("err_event_id_asof"),
            "err_value_asof",
        ),
        ["value", "err_value_asof"],
    )


def _asof_join_sql() -> str:
    return f"""
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type <> 'error'
    ),
    r AS (
      SELECT user_id, ts, MAX(event_id) AS err_event_id,
             MAX_BY(value, event_id) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id,
      strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
      ROUND(l.value, {ROUND}) AS value,
      strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_asof,
      r.err_event_id AS err_event_id_asof,
      ROUND(r.err_value, {ROUND}) AS err_value_asof
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts"""


def q_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-Fourier-feature MMD between the even/odd embedding halves
    (operators.similarity.mmd_drift). The seeded weights/phases inline as
    literals in BOTH engines, so the full estimator — features, per-side
    means, squared-difference sum — replays in DuckDB."""
    from pyspark_data_drift_detector_spark.operators.similarity import mmd_drift

    emb = _embeddings(spark, sf_dir)
    out = mmd_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        dim=64,
        n_features=48,
    )
    return _round_cols(
        out.select("mmd2", "mmd", "ref_n", "curr_n", "n_features", "drift_detected"),
        ["mmd2", "mmd"],
    )


def _mmd_drift_sql() -> str:
    import math as _math

    from pyspark_data_drift_detector_spark.operators.similarity import rff_params

    w, b = rff_params(64, 48, seed=7)
    sigma = _math.sqrt(64.0)
    feats = []
    for i, (p, bb) in enumerate(zip(w, b)):
        vec = "[" + ", ".join(f"{float(x)!r}" for x in p) + "]"
        feats.append(
            f"COS(list_dot_product(embedding::DOUBLE[], {vec}) / {sigma!r}"
            f" + {float(bb)!r}) AS f{i}"
        )
    means = ", ".join(
        f"AVG(CASE WHEN side = 'r' THEN f{i} END) AS mr{i},"
        f" AVG(CASE WHEN side = 'c' THEN f{i} END) AS mc{i}"
        for i in range(48)
    )
    sq = " + ".join(f"POW(mr{i} - mc{i}, 2)" for i in range(48))
    return f"""
    WITH t AS (
      SELECT CASE WHEN vec_id % 2 = 0 THEN 'r' ELSE 'c' END AS side,
             {', '.join(feats)}
      FROM embeddings WHERE embedding IS NOT NULL),
    m AS (SELECT {means},
            CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
            CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS curr_n
          FROM t),
    s AS (SELECT ({sq}) * (2.0 / 48) AS mmd2, ref_n, curr_n FROM m)
    SELECT ROUND(mmd2, {ROUND}) AS mmd2,
      ROUND(SQRT(GREATEST(mmd2, 0.0)), {ROUND}) AS mmd,
      ref_n, curr_n, 48 AS n_features, mmd2 > 0.01 AS drift_detected
    FROM s"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sided CUSUM change-point scan over the event value
    series (operators.temporal.cusum_changepoint). The max(0,·) recursion
    runs as running-sum − running-min window algebra, so the DuckDB
    oracle replays the detector exactly."""
    from pyspark_data_drift_detector_spark.operators.temporal import cusum_changepoint
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = cusum_changepoint(ev, tiebreak_col="event_id", k=0.5, h=5.0)
    return _round_cols(
        out.select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            "mean",
            "std",
            "max_cusum_pos",
            "max_cusum_neg",
            "alarm",
            F.date_format("first_alarm_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "first_alarm_ts"
            ),
        ),
        ["mean", "std", "max_cusum_pos", "max_cusum_neg"],
    )


def _cusum_changepoint_sql() -> str:
    return f"""
    WITH b AS (
      SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    st AS (SELECT *, AVG(v) OVER (PARTITION BY user_id) AS mu,
                  STDDEV_POP(v) OVER (PARTITION BY user_id) AS sigma FROM b),
    z AS (SELECT *, CASE WHEN sigma > 0 THEN (v - mu) / sigma ELSE 0.0 END AS z
          FROM st),
    c AS (SELECT *, SUM(z - 0.5) OVER w AS cp, SUM(-z - 0.5) OVER w AS cn
          FROM z WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)),
    s AS (SELECT *, cp - LEAST(MIN(cp) OVER w, 0.0) AS sp,
                 cn - LEAST(MIN(cn) OVER w, 0.0) AS sn
          FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING))
    SELECT user_id, COUNT(*) AS n,
      ROUND(MAX(mu), {ROUND}) AS mean,
      ROUND(MAX(sigma), {ROUND}) AS std,
      ROUND(MAX(sp), {ROUND}) AS max_cusum_pos,
      ROUND(MAX(sn), {ROUND}) AS max_cusum_neg,
      MAX(sp > 5.0 OR sn > 5.0) AS alarm,
      strftime(MIN(CASE WHEN sp > 5.0 OR sn > 5.0 THEN ts END),
               '%Y-%m-%d %H:%M:%S') AS first_alarm_ts
    FROM s GROUP BY user_id"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-class counts (operators.text.pii_scrub): every
    5th document gets a deterministic synthetic email/IP/SSN/phone
    appended, then the scrubber replaces spans class by class. The oracle
    replays the same injection and sequential regexp replacement in
    DuckDB (RE2) — pattern-dialect parity is part of what's verified."""
    from pyspark_data_drift_detector_spark.operators.text import pii_scrub

    docs = _documents(spark, sf_dir).selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 5 = 0 THEN concat(text,"
        " ' reach user', CAST(doc_id AS STRING), '@mail.org',"
        " ' ip 10.1.', CAST(doc_id % 256 AS STRING), '.7',"
        " ' ssn 123-45-6789 tel +1 555-000-1234') ELSE text END AS text",
    )
    out = pii_scrub(docs)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "n_pii_total",
        "scrubbed",
    )


def _pii_scrub_sql() -> str:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
    ssn = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
    phone = r"\+?[0-9][0-9()\- ]{7,14}[0-9]"
    return f"""
    WITH injected AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN text
          || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.org'
          || ' ip 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
          || ' ssn 123-45-6789 tel +1 555-000-1234' ELSE text END AS text
      FROM documents),
    s1 AS (SELECT doc_id, LEN(regexp_extract_all(text, '{email}')) AS n_email,
                  regexp_replace(text, '{email}', '[EMAIL]', 'g') AS t FROM injected),
    s2 AS (SELECT doc_id, n_email, LEN(regexp_extract_all(t, '{ipv4}')) AS n_ipv4,
                  regexp_replace(t, '{ipv4}', '[IPV4]', 'g') AS t FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ipv4, LEN(regexp_extract_all(t, '{ssn}')) AS n_ssn,
                  regexp_replace(t, '{ssn}', '[SSN]', 'g') AS t FROM s2),
    s4 AS (SELECT doc_id, n_email, n_ipv4, n_ssn,
                  LEN(regexp_extract_all(t, '{phone}')) AS n_phone,
                  regexp_replace(t, '{phone}', '[PHONE]', 'g') AS t FROM s3)
    SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
      CAST(n_ipv4 AS BIGINT) AS n_ipv4, CAST(n_ssn AS BIGINT) AS n_ssn,
      CAST(n_phone AS BIGINT) AS n_phone,
      CAST(n_email + n_ipv4 + n_ssn + n_phone AS BIGINT) AS n_pii_total,
      t AS scrubbed
    FROM s4"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval join (operators.temporal.interval_join): every
    event rejoined to its containing session — intervals explode into
    1-hour buckets, events equi-join on (user, bucket), range as a
    residual filter. Oracle: a plain SQL range join over the session CTE."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        interval_join,
        sessionize,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    sessions = sessionize(load_events(spark, sf_dir), gap="4 hours").select(
        "user_id", "session_start", "session_end", "n_events"
    )
    out = interval_join(ev, sessions, bucket="1 hour")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.col("n_events").cast("long").alias("session_n_events"),
    )


def _interval_join_sql() -> str:
    return """
    WITH o AS (
      SELECT user_id, ts, value,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w > INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid FROM o),
    sessions AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid)
    SELECT e.event_id, e.user_id,
      strftime(x.session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
      x.n_events AS session_n_events
    FROM events e JOIN sessions x
      ON e.user_id = x.user_id
     AND e.ts >= x.session_start AND e.ts <= x.session_end"""


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning over synthetically re-lined documents: the
    flat text is split into 5-token lines whose ending alternates by line
    index — terminal '.', no punctuation, or a 'javascript' marker — so
    every drop rule (short line, missing terminal punct, boilerplate
    marker) fires deterministically and replays in the oracle."""
    from pyspark_data_drift_detector_spark.operators.quality import c4_line_filter

    lined = _documents(spark, sf_dir).selectExpr(
        "doc_id",
        "array_join(transform("
        " sequence(0, CAST(ceil(size(split(text, ' ')) / 5.0) AS INT) - 1),"
        " i -> concat(concat_ws(' ', slice(split(text, ' '), i * 5 + 1, 5)),"
        "   CASE pmod(i, 3) WHEN 0 THEN '.' WHEN 1 THEN '' "
        "   ELSE ' javascript.' END)), '\n') AS text",
    )
    out = c4_line_filter(lined)
    return _round_cols(out, ["kept_ratio"])


def _c4_line_filter_sql() -> str:
    # replay: re-line exactly as the Spark query does, then the three
    # C4 keep-rules per line
    keep = (
        "len(regexp_split_to_array(trim(line), '\\s+')) >= 3"
        " AND right(rtrim(line), 1) IN ('.', '!', '?', '\"', '''')"
        " AND NOT (contains(lower(line), 'lorem ipsum')"
        "   OR contains(lower(line), 'javascript')"
        "   OR contains(lower(line), '{'))"
    )
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    lined AS (
      SELECT doc_id, list_transform(
        range(0, CAST(ceil(len(w) / 5.0) AS INT)),
        i -> array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ') ||
          CASE i % 3 WHEN 0 THEN '.' WHEN 1 THEN '' ELSE ' javascript.' END
      ) AS lines FROM t),
    f AS (
      SELECT doc_id, lines,
        list_filter(lines, line -> {keep}) AS kept
      FROM lined)
    SELECT doc_id,
      COALESCE(array_to_string(kept, chr(10)), '') AS cleaned,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(kept) AS BIGINT) AS n_kept,
      ROUND(len(kept) / greatest(len(lines), 1), {ROUND}) AS kept_ratio
    FROM f"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-model fluency score (add-0.5 smoothing) over
    the documents corpus."""
    from pyspark_data_drift_detector_spark.operators.corpus import bigram_logprob

    out = bigram_logprob(_documents(spark, sf_dir))
    return _round_cols(out, ["avg_logprob", "perplexity"])


def _bigram_logprob_sql(k: float = 0.5) -> str:
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bi AS (
      SELECT doc_id, t[i] AS t1, t[i + 1] AS t2
      FROM toks, UNNEST(range(1, len(t))) AS g(i)
      WHERE len(t) >= 2),
    bc AS (SELECT t1, t2, COUNT(*) AS c_bi FROM bi GROUP BY 1, 2),
    uc AS (SELECT t1, COUNT(*) AS c_t1 FROM bi GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM (
      SELECT t1 AS tok FROM bi UNION ALL SELECT t2 FROM bi)),
    s AS (
      SELECT bi.doc_id, ln((c_bi + {k!r}) / (c_t1 + {k!r} * v)) AS lp
      FROM bi JOIN bc USING (t1, t2) JOIN uc USING (t1) CROSS JOIN v)
    SELECT doc_id, COUNT(*) AS n_bigrams,
      ROUND(AVG(lp), {ROUND}) AS avg_logprob,
      ROUND(EXP(-AVG(lp)), {ROUND}) AS perplexity
    FROM s GROUP BY doc_id"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup: every 10th doc is replaced
    by an UPPERCASED, extra-punctuated variant of its successor's text
    (deterministic injection, replayed in the oracle); after
    normalize_text_expr canonicalization those variants collapse onto
    their source docs while raw-byte md5 would see them as distinct."""
    from pyspark_data_drift_detector_spark.operators.dedup import dedup_exact
    from pyspark_data_drift_detector_spark.operators.text import normalize_text_expr

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    nxt = docs.selectExpr("doc_id - 1 AS doc_id", "text AS next_text")
    variant = docs.join(nxt, "doc_id", "left").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 10 = 0 AND next_text IS NOT NULL"
        " THEN concat(upper(next_text), ' !!') ELSE text END AS text",
    )
    normed = variant.withColumn("text", normalize_text_expr(F.col("text")))
    return dedup_exact(normed)


def _dedup_normalized_sql() -> str:
    return """
    WITH v AS (
      SELECT d.doc_id,
        CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
             THEN upper(n.text) || ' !!' ELSE d.text END AS text
      FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
    norm AS (
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                            '\\s+', ' ', 'g')) AS text
      FROM v),
    keyed AS (SELECT doc_id, md5(text) AS content_key FROM norm),
    groups AS (
      SELECT content_key, CAST(COUNT(*) AS BIGINT) AS group_size,
             MIN(doc_id) AS survivor_id
      FROM keyed GROUP BY 1)
    SELECT k.doc_id, k.content_key, g.group_size, g.survivor_id,
      k.doc_id != g.survivor_id AS is_duplicate
    FROM keyed k JOIN groups g USING (content_key)"""


def q_mutual_information_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependency-structure drift: normalized mutual information between
    categorical pairs, even/odd split — lineitem's returnflag×linestatus
    and orders' status×priority."""
    from pyspark_data_drift_detector_spark.operators.correlation import (
        mutual_information_drift,
    )

    li = _lineitem(spark, sf_dir)
    li_out = mutual_information_drift(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1),
        [("l_returnflag", "l_linestatus")],
    )
    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    o_out = mutual_information_drift(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
        [("o_orderstatus", "o_orderpriority")],
    )
    return _round_cols(
        li_out.unionByName(o_out),
        ["ref_mi", "curr_mi", "ref_nmi", "curr_nmi", "nmi_abs_diff"],
    )


def _mi_pair_sql(table: str, key: str, x: str, y: str) -> str:
    return f"""
    WITH tagged AS (
      SELECT CASE WHEN {key} % 2 = 0 THEN 'r' ELSE 'c' END AS side,
             COALESCE(CAST({x} AS VARCHAR), CHR(1) || '<null>') AS x,
             COALESCE(CAST({y} AS VARCHAR), CHR(1) || '<null>') AS y
      FROM {table}),
    joint AS (SELECT side, x, y, COUNT(*) AS nxy FROM tagged GROUP BY 1, 2, 3),
    margx AS (SELECT side, x, SUM(nxy) AS nx FROM joint GROUP BY 1, 2),
    margy AS (SELECT side, y, SUM(nxy) AS ny FROM joint GROUP BY 1, 2),
    tot AS (SELECT side, SUM(nxy) AS n FROM joint GROUP BY 1),
    mi AS (
      SELECT j.side,
        SUM((nxy / n) * log2((nxy / n) / ((nx / n) * (ny / n)))) AS mi
      FROM joint j JOIN margx USING (side, x) JOIN margy USING (side, y)
        JOIN tot USING (side)
      GROUP BY 1),
    hx AS (SELECT side, -SUM((nx / n) * log2(nx / n)) AS hx
           FROM margx JOIN tot USING (side) GROUP BY 1),
    hy AS (SELECT side, -SUM((ny / n) * log2(ny / n)) AS hy
           FROM margy JOIN tot USING (side) GROUP BY 1),
    s AS (
      SELECT side, GREATEST(mi, 0.0) AS mi,
        CASE WHEN LEAST(hx, hy) > 0 THEN GREATEST(mi, 0.0) / LEAST(hx, hy)
             ELSE 0.0 END AS nmi
      FROM mi JOIN hx USING (side) JOIN hy USING (side))
    SELECT '{x}' AS col_x, '{y}' AS col_y,
      ROUND(MAX(CASE WHEN side = 'r' THEN mi END), {ROUND}) AS ref_mi,
      ROUND(MAX(CASE WHEN side = 'c' THEN mi END), {ROUND}) AS curr_mi,
      ROUND(MAX(CASE WHEN side = 'r' THEN nmi END), {ROUND}) AS ref_nmi,
      ROUND(MAX(CASE WHEN side = 'c' THEN nmi END), {ROUND}) AS curr_nmi,
      ROUND(ABS(MAX(CASE WHEN side = 'c' THEN nmi END)
              - MAX(CASE WHEN side = 'r' THEN nmi END)), {ROUND}) AS nmi_abs_diff,
      ABS(MAX(CASE WHEN side = 'c' THEN nmi END)
        - MAX(CASE WHEN side = 'r' THEN nmi END)) > 0.05 AS drift_detected
    FROM s"""


def _mutual_information_drift_sql() -> str:
    li = _mi_pair_sql("lineitem", "l_orderkey", "l_returnflag", "l_linestatus")
    o = _mi_pair_sql("orders", "o_orderkey", "o_orderstatus", "o_orderpriority")
    return f"SELECT * FROM ({li}) UNION ALL SELECT * FROM ({o})"


def q_robust_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-resistant profile panel (5% trimmed/winsorized means,
    median, MAD) over lineitem numeric columns."""
    from pyspark_data_drift_detector_spark.operators.profile import robust_profile

    out = robust_profile(
        _lineitem(spark, sf_dir), ["l_quantity", "l_extendedprice", "l_tax"]
    )
    return _round_cols(
        out,
        ["lo", "median", "hi", "mad", "trimmed_mean", "winsorized_mean"],
    )


def _robust_profile_sql(trim: float = 0.05) -> str:
    lo_p, hi_p = trim, 1.0 - trim
    per = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name, CAST({c} AS DOUBLE) AS x,
          (SELECT quantile_cont(CAST({c} AS DOUBLE), {lo_p!r}) FROM lineitem) AS lo,
          (SELECT quantile_cont(CAST({c} AS DOUBLE), 0.5) FROM lineitem) AS med,
          (SELECT quantile_cont(CAST({c} AS DOUBLE), {hi_p!r}) FROM lineitem) AS hi
        FROM lineitem WHERE {c} IS NOT NULL"""
        for c in ("l_quantity", "l_extendedprice", "l_tax")
    )
    return f"""
    SELECT column_name, COUNT(*) AS n,
      ROUND(MAX(lo), {ROUND}) AS lo,
      ROUND(MAX(med), {ROUND}) AS median,
      ROUND(MAX(hi), {ROUND}) AS hi,
      ROUND(quantile_cont(ABS(x - med), 0.5), {ROUND}) AS mad,
      ROUND(AVG(CASE WHEN x >= lo AND x <= hi THEN x END), {ROUND})
        AS trimmed_mean,
      ROUND(AVG(CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END),
            {ROUND}) AS winsorized_mean,
      CAST(SUM(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END) AS BIGINT)
        AS n_trimmed
    FROM ({per}) GROUP BY column_name"""


def q_robust_profile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robust_profile's 100TB path: the same panel with every rank
    statistic (bounds AND the MAD median) computed from value histograms
    (quantiles_by_counts — O(distinct) state, no per-column buffering).
    Values are EXACT, so it shares the exact-mode DuckDB oracle."""
    from pyspark_data_drift_detector_spark.operators.profile import robust_profile

    out = robust_profile(
        _lineitem(spark, sf_dir),
        ["l_quantity", "l_extendedprice", "l_tax"],
        quantile_mode="counts",
    )
    return _round_cols(
        out,
        ["lo", "median", "hi", "mad", "trimmed_mean", "winsorized_mean"],
    )


def q_equidepth_histogram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """equidepth_histogram's 100TB path: exact edges from the value
    histogram instead of sort-based percentile buffering. Shares the
    exact-mode oracle (identical values)."""
    from pyspark_data_drift_detector_spark.operators.distribution import (
        equidepth_histogram,
    )

    out = equidepth_histogram(
        _lineitem(spark, sf_dir),
        ["l_quantity", "l_extendedprice"],
        bins=8,
        quantile_mode="counts",
    )
    return _round_cols(out, ["lo", "hi"])


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency histogram (8 bins) over a heavy-tied and a
    continuous lineitem column — exact percentile edges, ties-go-left
    binning."""
    from pyspark_data_drift_detector_spark.operators.distribution import (
        equidepth_histogram,
    )

    out = equidepth_histogram(
        _lineitem(spark, sf_dir), ["l_quantity", "l_extendedprice"], bins=8
    )
    return _round_cols(out, ["lo", "hi"])


def _equidepth_histogram_sql(bins: int = 8) -> str:
    pcts = ", ".join(f"{i / bins!r}" for i in range(bins + 1))
    per_col = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name, CAST({c} AS DOUBLE) AS x,
          (SELECT quantile_cont(CAST({c} AS DOUBLE), [{pcts}]) FROM lineitem)
            AS edges
        FROM lineitem WHERE {c} IS NOT NULL"""
        for c in ("l_quantity", "l_extendedprice")
    )
    return f"""
    WITH b AS (
      SELECT column_name,
        CAST(len(list_filter(edges[2 : {bins}], e -> x > e)) AS INT) AS bin,
        edges
      FROM ({per_col}))
    SELECT column_name, bin,
      ROUND(edges[bin + 1], {ROUND}) AS lo,
      ROUND(edges[bin + 2], {ROUND}) AS hi,
      COUNT(*) AS cnt
    FROM b GROUP BY column_name, bin, edges[bin + 1], edges[bin + 2]"""


def q_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join blow-up check for lineitem ⋈ orders on o_custkey routed
    through orders — many-to-many on purpose (customer appears in both
    sides many times): exact output size, amplification, hottest key."""
    from pyspark_data_drift_detector_spark.operators.parallelism import (
        join_explosion_profile,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    enriched = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select(F.col("o_custkey").alias("custkey"))
    out = join_explosion_profile(
        enriched, orders.select(F.col("o_custkey").alias("custkey")),
        ["custkey"],
    )
    return _round_cols(out, ["amplification", "max_key_share"])


def _join_explosion_sql() -> str:
    return f"""
    WITH l AS (
      SELECT o.o_custkey AS custkey FROM lineitem li
      JOIN orders o ON li.l_orderkey = o.o_orderkey),
    r AS (SELECT o_custkey AS custkey FROM orders),
    lc AS (SELECT custkey, COUNT(*) AS nl FROM l
           WHERE custkey IS NOT NULL GROUP BY 1),
    rc AS (SELECT custkey, COUNT(*) AS nr FROM r
           WHERE custkey IS NOT NULL GROUP BY 1),
    pairs AS (SELECT CAST(nl AS BIGINT) AS nl, CAST(nr AS BIGINT) AS nr,
                CAST(nl AS BIGINT) * nr AS out_k
              FROM lc JOIN rc USING (custkey)),
    tot AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l WHERE custkey IS NOT NULL)
               AS left_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM r WHERE custkey IS NOT NULL)
               AS right_rows),
    agg AS (
      SELECT COUNT(*) AS matched_keys,
        CAST(COALESCE(SUM(out_k), 0) AS BIGINT) AS output_rows,
        CAST(COALESCE(MAX(out_k), 0) AS BIGINT) AS max_key_output,
        CAST(COALESCE(SUM(CASE WHEN nl > 1 AND nr > 1 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS many_to_many_keys
      FROM pairs)
    SELECT left_rows, right_rows, matched_keys, output_rows,
      ROUND(CAST(output_rows AS DOUBLE)
            / GREATEST(left_rows, right_rows, 1), {ROUND}) AS amplification,
      max_key_output,
      ROUND(CAST(max_key_output AS DOUBLE) / GREATEST(output_rows, 1),
            {ROUND}) AS max_key_share,
      many_to_many_keys
    FROM tot CROSS JOIN agg"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis over orders: per candidate key column, the
    hottest-key share, top-10 share, Herfindahl concentration and
    effective key count — the pre-join numbers that decide whether
    ``salted_join`` is needed."""
    from pyspark_data_drift_detector_spark.operators.parallelism import (
        key_skew_profile,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    out = key_skew_profile(
        orders, ["o_custkey", "o_orderstatus", "o_orderpriority"], top_k=10
    )
    return _round_cols(
        out,
        ["max_share", "topk_share", "hhi", "effective_keys", "skew_factor"],
    )


def _key_skew_profile_sql() -> str:
    cells = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS value FROM orders"
        for c in ("o_custkey", "o_orderstatus", "o_orderpriority")
    )
    return f"""
    WITH cells AS ({cells}),
    counts AS (SELECT column_name, value, COUNT(*) AS cnt
               FROM cells GROUP BY 1, 2),
    m AS (SELECT column_name, CAST(COUNT(*) AS BIGINT) AS n_keys,
            CAST(SUM(cnt) AS BIGINT) AS n_rows,
            CAST(MAX(cnt) AS BIGINT) AS max_count,
            SUM(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)) AS sumsq
          FROM counts GROUP BY 1),
    t AS (SELECT column_name, CAST(SUM(cnt) AS BIGINT) AS topk_count
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY column_name
                  ORDER BY cnt DESC, value ASC NULLS FIRST) AS rn FROM counts)
          WHERE rn <= 10 GROUP BY 1)
    SELECT m.column_name, n_rows, n_keys, max_count,
      ROUND(max_count / n_rows, {ROUND}) AS max_share,
      ROUND(topk_count / n_rows, {ROUND}) AS topk_share,
      ROUND(sumsq / (CAST(n_rows AS DOUBLE) * n_rows), {ROUND}) AS hhi,
      ROUND((CAST(n_rows AS DOUBLE) * n_rows) / sumsq, {ROUND}) AS effective_keys,
      ROUND(max_count / (n_rows / CAST(n_keys AS DOUBLE)), {ROUND}) AS skew_factor
    FROM m JOIN t ON m.column_name = t.column_name"""


def q_rollup_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: hour buckets aggregate raw
    events once, day buckets re-aggregate the hour states (additive
    algebra — no second scan). Oracle: direct per-granularity
    aggregation, proving the cascade re-association is exact."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        rollup_timeseries,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = rollup_timeseries(
        load_events(spark, sf_dir),
        dims=("event_type",),
        granularities=("hour", "day", "month"),
    )
    return _round_cols(
        out.select(
            "granularity",
            F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
            "n_rows",
            "n",
            "mean",
            "stddev",
            "min",
            "max",
        ),
        ["mean", "stddev", "min", "max"],
    )


def _rollup_timeseries_sql() -> str:
    # DECIMAL(38,10) sums exactly as the Spark cascade carries them —
    # exact/associative, so the direct per-granularity scan here equals
    # the hour->day->month re-aggregation cascade bit-for-bit (float
    # sums flipped a ROUND(x,5) boundary under local[32] in round 6)
    per = " UNION ALL ".join(
        f"""
        SELECT '{g}' AS granularity,
          strftime(date_trunc('{g}', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
          event_type,
          COUNT(*) AS n_rows, COUNT(value) AS n,
          SUM(CAST(value AS DECIMAL(38, 10))) AS s,
          SUM(CAST(value * value AS DECIMAL(38, 10))) AS ss,
          MIN(value) AS mn, MAX(value) AS mx
        FROM events GROUP BY 2, 3"""
        for g in ("hour", "day", "month")
    )
    return f"""
    SELECT granularity, bucket_start, event_type, n_rows, n,
      ROUND(CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / n END, {ROUND}) AS mean,
      ROUND(CASE WHEN n > 1 THEN sqrt(greatest(0.0,
            (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
            / (n - 1))) END, {ROUND}) AS stddev,
      ROUND(mn, {ROUND}) AS min, ROUND(mx, {ROUND}) AS max
    FROM ({per})"""


def q_merged_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL mergeable quantile state: lineitem sketched per hash partition,
    all four sketches merged, estimates checked against EXACT rank-band
    bounds (quantile_cont at p±0.015 — k=800's error band with margin).
    An estimator/merge regression pushes an estimate outside its band and
    flips within_tolerance."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_quantiles,
        partitioned_quantiles,
    )

    cols = ["l_quantity", "l_extendedprice"]
    probs = (0.25, 0.5, 0.75)
    li = _lineitem(spark, sf_dir)
    parts = partitioned_quantiles(li, cols, "pmod(l_orderkey, 4)")
    est = merged_quantiles(parts, probs=probs)
    # ONE exact-quantile gather for both columns' band edges — the r14
    # NumPy sort-gather engine (profile._sorted_quantile_row, values
    # bit-identical to the `percentile` aggregate it replaces, which
    # buffered each column's values in one reducer's boxed map) —
    # unpacked into (column_name, p, lo, hi) band rows
    from pyspark_data_drift_detector_spark.operators.profile import (
        _sorted_quantile_row,
    )

    band_probs = [
        x for p in probs for x in (max(p - 0.015, 0.0), min(p + 0.015, 1.0))
    ]
    band_structs = ", ".join(
        f"named_struct('column_name', '{c}', 'p', {p}D,"
        f" 'lo', __q{ci}[{2 * pi}], 'hi', __q{ci}[{2 * pi + 1}])"
        for ci, c in enumerate(cols)
        for pi, p in enumerate(probs)
    )
    bounds = _sorted_quantile_row(
        li, [(f"__q{ci}", c, None, None) for ci, c in enumerate(cols)], band_probs
    ).selectExpr(f"inline(array({band_structs}))")
    return (
        est.join(bounds, ["column_name", "p"])
        .selectExpr(
            "column_name",
            "p",
            f"round(lo, {ROUND}) AS lo",
            f"round(hi, {ROUND}) AS hi",
            "value >= lo AND value <= hi AS within_tolerance",
        )
    )


def _merged_quantiles_sql() -> str:
    parts = []
    for c in ("l_quantity", "l_extendedprice"):
        for p in (0.25, 0.5, 0.75):
            parts.append(f"""
            SELECT '{c}' AS column_name, CAST({p} AS DOUBLE) AS p,
              ROUND((SELECT CAST(quantile_cont(CAST({c} AS DOUBLE), {max(p - 0.015, 0.0)}) AS DOUBLE)
                     FROM lineitem), {ROUND}) AS lo,
              ROUND((SELECT CAST(quantile_cont(CAST({c} AS DOUBLE), {min(p + 0.015, 1.0)}) AS DOUBLE)
                     FROM lineitem), {ROUND}) AS hi,
              TRUE AS within_tolerance""")
    return " UNION ALL ".join(parts)


def q_merged_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items state: orders enum columns sketched per
    hash partition (Datasketches frequent-items via
    ``approx_top_k_accumulate``), the four partition sketches COMBINED —
    no re-scan. With the 10k-item budget far above the enum domains the
    sketch never purges, so the merged counts are EXACT and the oracle
    pins them value-for-value against a direct GROUP BY."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_heavy_hitters,
        partitioned_heavy_hitters,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    parts = partitioned_heavy_hitters(
        orders, ["o_orderstatus", "o_orderpriority"], "pmod(o_orderkey, 4)"
    )
    return merged_heavy_hitters(parts, k=10)


def _merged_heavy_hitters_sql() -> str:
    per = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS item,
          COUNT(*) AS count_estimate
        FROM orders WHERE {c} IS NOT NULL GROUP BY 2"""
        for c in ("o_orderstatus", "o_orderpriority")
    )
    return f"""SELECT column_name, item,
      CAST(count_estimate AS BIGINT) AS count_estimate FROM ({per})"""


def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size deterministic uniform sample (k=80) of the documents
    corpus — the distributed reservoir-sampling equivalent (k smallest
    hash variates)."""
    from pyspark_data_drift_detector_spark.operators.sampling import uniform_sample_k

    out = uniform_sample_k(_documents(spark, sf_dir), 80)
    return out.selectExpr("doc_id", "CAST(sample_u AS BIGINT) AS sample_u")


def _uniform_sample_sql() -> str:
    return f"""
    SELECT doc_id, CAST(({_md5_u_sql("usample")}) AS BIGINT) AS sample_u
    FROM documents
    ORDER BY sample_u ASC, doc_id ASC LIMIT 80"""


def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day approximate distinct users (HLL++, rsd=0.01) checked
    against each window's exact distinct count — the merged_distinct
    tolerance pattern (5% band ≈ 5σ at this rsd)."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import (
        windowed_distinct,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    est = windowed_distinct(ev, rsd=0.01)
    exact = ev.selectExpr("date_trunc('day', ts) AS window_start", "user_id").groupBy(
        "window_start"
    ).agg(F.expr("CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct"))
    return est.join(exact, "window_start").selectExpr(
        "date_format(window_start, 'yyyy-MM-dd HH:mm:ss') AS window_start",
        "n_events",
        "exact_distinct",
        "abs(CAST(distinct_estimate AS DOUBLE) - exact_distinct)"
        " / greatest(exact_distinct, 1) <= 0.05 AS within_tolerance",
    )


def _windowed_distinct_sql() -> str:
    return """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      COUNT(*) AS n_events,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
      TRUE AS within_tolerance
    FROM events GROUP BY 1"""


def q_rollup_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: o_totalprice vs the TPC-H rollup of
    its lineitems (sum of extendedprice*(1-discount)*(1+tax)), with
    match/mismatch/orphan counts and mismatch magnitudes in one summary
    row — the fact-vs-summary consistency gate."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        check_rollup_consistency,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    out = check_rollup_consistency(
        orders, li, "o_orderkey", "l_orderkey", "o_totalprice",
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))",
        tolerance=0.01,
    )
    return _round_cols(out, ["max_abs_diff", "mean_abs_diff"])


def _rollup_consistency_sql(tolerance: float = 0.01) -> str:
    return f"""
    WITH rollup AS (
      SELECT l_orderkey AS k,
        CAST(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
             AS DOUBLE) AS rv,
        TRUE AS has_c
      FROM lineitem GROUP BY 1),
    par AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS pv,
              TRUE AS has_p
            FROM orders),
    j AS (SELECT p.has_p, r.has_c, p.pv, r.rv
          FROM par p FULL OUTER JOIN rollup r
            ON p.k IS NOT DISTINCT FROM r.k),
    cells AS (
      SELECT has_p, has_c,
        CASE WHEN has_p AND has_c THEN
          CAST(COALESCE(ABS(pv - rv) <= {tolerance}, FALSE) AS INT)
        END AS ok,
        CASE WHEN has_p AND has_c THEN ABS(pv - rv) END AS ad
      FROM j)
    SELECT
      CAST(SUM(CASE WHEN has_p THEN 1 ELSE 0 END) AS BIGINT) AS n_parent,
      CAST(SUM(CASE WHEN has_c THEN 1 ELSE 0 END) AS BIGINT)
        AS n_child_keys,
      CAST(SUM(CASE WHEN ok = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_matched,
      CAST(SUM(CASE WHEN ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_mismatched,
      CAST(SUM(CASE WHEN has_p AND has_c IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_parent_only,
      CAST(SUM(CASE WHEN has_c AND has_p IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_child_only,
      ROUND(MAX(CASE WHEN ok = 0 THEN ad END), {ROUND}) AS max_abs_diff,
      ROUND(AVG(CASE WHEN ok = 0 THEN ad END), {ROUND}) AS mean_abs_diff,
      SUM(CASE WHEN ok = 0 THEN 1 ELSE 0 END) = 0
        AND SUM(CASE WHEN has_p AND has_c IS NULL THEN 1 ELSE 0 END) = 0
        AND SUM(CASE WHEN has_c AND has_p IS NULL THEN 1 ELSE 0 END) = 0
        AS consistent
    FROM cells"""


def q_format_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic format mixture per column (first-match regex ladder):
    orders' key (integer), order date (datetime), and the two status
    strings (other) — the malformed-share companion to type
    inference."""
    from pyspark_data_drift_detector_spark.operators.text import (
        format_profile,
    )

    # NTZ-free timestamp rendering must agree with the oracle's naive
    # strings regardless of host timezone (q_events_windowed convention)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    out = format_profile(
        orders,
        ["o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority"],
    )
    return _round_cols(out, ["share"])


def _format_profile_sql() -> str:
    from pyspark_data_drift_detector_spark.operators.text import (
        _FORMAT_LADDER,
    )

    cases = " ".join(
        f"WHEN regexp_matches(v, '{pat}') THEN '{name}'"
        for name, pat in _FORMAT_LADDER
    )
    cols = ["o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority"]
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS v"
        f" FROM orders"
        for c in cols
    )
    return f"""
    WITH m AS ({melt}),
    cls AS (SELECT column_name,
              CASE WHEN v IS NULL THEN 'null'
                   WHEN trim(v) = '' THEN 'empty'
                   {cases} ELSE 'other' END AS format
            FROM m),
    agg AS (SELECT column_name, format, CAST(COUNT(*) AS BIGINT) AS n
            FROM cls GROUP BY 1, 2)
    SELECT column_name, format, n,
      ROUND(n / CAST(SUM(n) OVER (PARTITION BY column_name) AS DOUBLE),
            {ROUND}) AS share
    FROM agg"""


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty of the doc_id%3==0 batch against the
    rest of the corpus as reference — the freshness signal per ingest
    batch (decontaminate's complement). Hash-keyed distinct-gram join;
    DuckDB replays with plain string grams (counts are hash-invariant)."""
    from pyspark_data_drift_detector_spark.operators.quality import (
        doc_novelty,
    )

    docs = _documents(spark, sf_dir)
    out = doc_novelty(
        docs.filter("doc_id % 3 = 0"), docs.filter("doc_id % 3 != 0")
    )
    return _round_cols(
        out.withColumn("doc_id", F.col("doc_id").cast("long")),
        ["novelty"],
    )


def _doc_novelty_sql(n: int = 3) -> str:
    return f"""
    WITH bg AS (SELECT DISTINCT doc_id, gram
                FROM ({_ngram_sql(n)}) WHERE doc_id % 3 = 0
                  AND gram <> ''),
    rg AS (SELECT DISTINCT gram FROM ({_ngram_sql(n)})
           WHERE doc_id % 3 != 0 AND gram <> '')
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      CAST(SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS unseen_grams,
      ROUND(SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), {ROUND}) AS novelty
    FROM bg b LEFT JOIN rg r USING (gram)
    GROUP BY b.doc_id"""


def q_embedding_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-column acceptance gate over the embeddings table:
    completeness, exact dim, element NULLs, zero norms, and a tight
    norm window ([1-5e-8, 1+5e-8]) that the synthetic unit-normalized
    vectors straddle — non-vacuous violations with bit-exact fold
    math on both engines."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        check_embedding_constraints,
    )

    out = check_embedding_constraints(
        _embeddings(spark, sf_dir),
        dim=64,
        norm_min=0.99999995,
        norm_max=1.00000005,
    )
    return _round_cols(out, ["metric", "threshold"])


def _embedding_constraints_sql(
    dim: int = 64,
    norm_min: float = 0.99999995,
    norm_max: float = 1.00000005,
) -> str:
    wf = (f"embedding IS NOT NULL AND len(embedding) = {dim}"
          " AND len(list_filter(embedding, x -> x IS NULL)) = 0")
    norm = ("sqrt(list_dot_product(embedding::DOUBLE[],"
            " embedding::DOUBLE[]))")
    return f"""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS nulls,
        CAST(SUM(CASE WHEN embedding IS NOT NULL
          AND len(embedding) != {dim} THEN 1 ELSE 0 END) AS BIGINT)
          AS baddims,
        CAST(SUM(CASE WHEN embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL)) > 0
          THEN 1 ELSE 0 END) AS BIGINT) AS elnulls,
        CAST(SUM(CASE WHEN {wf} AND {norm} = 0.0 THEN 1 ELSE 0 END)
          AS BIGINT) AS zeros,
        CAST(SUM(CASE WHEN {wf} AND {norm} > 0.0
          AND ({norm} < {norm_min!r} OR {norm} > {norm_max!r})
          THEN 1 ELSE 0 END) AS BIGINT) AS badnorms
      FROM embeddings)
    SELECT 'embedding_completeness' AS constraint, 'embedding' AS column,
      ROUND(nulls / GREATEST(CAST(n AS DOUBLE), 1.0), {ROUND}) AS metric,
      CAST(0.0 AS DOUBLE) AS threshold, nulls AS violations,
      nulls / GREATEST(CAST(n AS DOUBLE), 1.0) <= 0.0 AS passed
    FROM agg
    UNION ALL
    SELECT 'embedding_dim', 'embedding', CAST(baddims AS DOUBLE),
      CAST(0.0 AS DOUBLE), baddims, baddims = 0 FROM agg
    UNION ALL
    SELECT 'embedding_element_nulls', 'embedding',
      CAST(elnulls AS DOUBLE), CAST(0.0 AS DOUBLE), elnulls,
      elnulls = 0 FROM agg
    UNION ALL
    SELECT 'embedding_zero_norm', 'embedding',
      ROUND(zeros / GREATEST(CAST(n - nulls AS DOUBLE), 1.0), {ROUND}),
      CAST(0.0 AS DOUBLE), zeros,
      zeros / GREATEST(CAST(n - nulls AS DOUBLE), 1.0) <= 0.0 FROM agg
    UNION ALL
    SELECT 'embedding_norm_range', 'embedding',
      CAST(badnorms AS DOUBLE), CAST(0.0 AS DOUBLE), badnorms,
      badnorms = 0 FROM agg"""


def q_format_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-mixture increment vetting: the o_orderkey%3==0 ingest
    batch's per-column format mixture against the rolled-up state of
    the rest — the data-quality member of the vet-the-increment family
    (prior batches never re-read)."""
    from pyspark_data_drift_detector_spark.operators.text import (
        format_drift_incremental,
        format_state,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    cols = ["o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority"]
    state = format_state(orders.filter("o_orderkey % 3 != 0"), cols)
    out = format_drift_incremental(
        orders.filter("o_orderkey % 3 = 0"), state, cols
    )
    return _round_cols(out, ["ref_share", "curr_share", "share_abs_diff"])


def _format_incremental_sql(threshold: float = 0.02) -> str:
    from pyspark_data_drift_detector_spark.operators.text import (
        _FORMAT_LADDER,
    )

    cases = " ".join(
        f"WHEN regexp_matches(v, '{pat}') THEN '{name}'"
        for name, pat in _FORMAT_LADDER
    )
    cols = ["o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority"]

    def side(name: str, where: str) -> str:
        melt = " UNION ALL ".join(
            f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS v"
            f" FROM orders WHERE {where}"
            for c in cols
        )
        return f"""{name} AS (
      SELECT column_name,
        CASE WHEN v IS NULL THEN 'null' WHEN trim(v) = '' THEN 'empty'
             {cases} ELSE 'other' END AS format,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM ({melt}) GROUP BY 1, 2)"""

    return f"""
    WITH {side('prior', 'o_orderkey % 3 != 0')},
    {side('batch', 'o_orderkey % 3 = 0')},
    aligned AS (
      SELECT COALESCE(p.column_name, b.column_name) AS column_name,
        COALESCE(p.format, b.format) AS format,
        COALESCE(p.n, 0) AS ref_n, COALESCE(b.n, 0) AS curr_n
      FROM prior p FULL OUTER JOIN batch b
        ON p.column_name = b.column_name AND p.format = b.format),
    sh AS (
      SELECT *,
        ref_n / CAST(NULLIF(SUM(ref_n) OVER (PARTITION BY column_name),
                            0) AS DOUBLE) AS ref_share,
        curr_n / CAST(NULLIF(SUM(curr_n) OVER (PARTITION BY
                             column_name), 0) AS DOUBLE) AS curr_share
      FROM aligned)
    SELECT column_name, format, CAST(ref_n AS BIGINT) AS ref_n,
      CAST(curr_n AS BIGINT) AS curr_n,
      ROUND(ref_share, {ROUND}) AS ref_share,
      ROUND(curr_share, {ROUND}) AS curr_share,
      ROUND(ABS(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) AS share_abs_diff,
      ROUND(ABS(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)), 5)
        > {threshold} AS drift_detected
    FROM sh"""


def q_rollup_mismatch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reconciliation drill-down: the 20 orders whose o_totalprice
    diverges most from their lineitem rollup (heap top-k, ties to the
    smallest key) — what an on-call engineer opens after
    q_rollup_consistency fires."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        rollup_mismatch_topk,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    out = rollup_mismatch_topk(
        orders, _lineitem(spark, sf_dir), "o_orderkey", "l_orderkey",
        "o_totalprice",
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))", k=20,
    )
    return _round_cols(
        out, ["parent_value", "rollup_value", "abs_diff"]
    )


def _rollup_mismatch_topk_sql(k: int = 20, tolerance: float = 0.01) -> str:
    return f"""
    WITH rollup AS (
      SELECT l_orderkey AS k,
        CAST(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
             AS DOUBLE) AS rv
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderkey AS key, CAST(o.o_totalprice AS DOUBLE)
          AS parent_value, r.rv AS rollup_value,
        ABS(CAST(o.o_totalprice AS DOUBLE) - r.rv) AS abs_diff
      FROM orders o JOIN rollup r
        ON o.o_orderkey IS NOT DISTINCT FROM r.k)
    SELECT key, ROUND(parent_value, {ROUND}) AS parent_value,
      ROUND(rollup_value, {ROUND}) AS rollup_value,
      ROUND(abs_diff, {ROUND}) AS abs_diff
    FROM j WHERE abs_diff > {tolerance}
    ORDER BY abs_diff DESC, key ASC LIMIT {k}"""


def q_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style acceptance gate over orders + lineitem: completeness,
    uniqueness, accepted domain, value range, minimum batch size, a
    functional dependency, and lineitem→orders referential integrity —
    single-table checks in one wide aggregate, the FD as a shared keyed
    pass, the FK check as an anti-join count."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        check_constraints,
        check_referential_integrity,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    suite = check_constraints(
        orders,
        [
            {"type": "completeness", "column": "o_custkey", "min_ratio": 0.99},
            {"type": "unique", "column": "o_orderkey"},
            {"type": "in_set", "column": "o_orderstatus", "values": ["O", "F", "P"]},
            {"type": "range", "column": "o_totalprice", "min": 0.0},
            {"type": "min_rows", "count": 100},
            {
                "type": "implication",
                "if_column": "o_custkey",
                "then_column": "o_orderstatus",
            },
            {"type": "unique", "column": ["o_custkey", "o_orderdate"]},
            {
                "type": "functional_dependency",
                "determinant": "o_orderkey",
                "dependent": "o_custkey",
            },
        ],
    )
    fk = check_referential_integrity(li, orders, "l_orderkey", "o_orderkey")
    return _round_cols(suite.unionByName(fk), ["metric", "threshold"])


def _constraint_suite_sql() -> str:
    return f"""
    WITH o AS (
      SELECT COUNT(*) AS total, COUNT(o_custkey) AS n_cust,
        COUNT(o_orderkey) AS n_ok, COUNT(DISTINCT o_orderkey) AS d_ok,
        CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL AND
          CAST(o_orderstatus AS VARCHAR) NOT IN ('O', 'F', 'P')
          THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
        CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND
          CAST(o_totalprice AS DOUBLE) < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
          AS v_rng,
        CAST(SUM(CASE WHEN o_custkey IS NOT NULL AND o_orderstatus IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS v_imp,
        COUNT(CASE WHEN o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          THEN 1 END) AS n_ck,
        COUNT(DISTINCT CASE WHEN o_custkey IS NOT NULL AND
          o_orderdate IS NOT NULL THEN (o_custkey, o_orderdate) END) AS d_ck
      FROM orders),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem l
      WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        SELECT 1 FROM orders p WHERE p.o_orderkey = l.l_orderkey)),
    fd AS (
      SELECT COUNT(*) AS ng,
        CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT) AS vg,
        CAST(SUM(CASE WHEN ny > 1 THEN nr ELSE 0 END) AS BIGINT) AS vr
      FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS ny,
              COUNT(o_custkey) AS nr
            FROM orders GROUP BY o_orderkey))
    SELECT 'completeness' AS constraint, 'o_custkey' AS "column",
      ROUND(CAST(n_cust AS DOUBLE) / greatest(total, 1), {ROUND}) AS metric,
      CAST(0.99 AS DOUBLE) AS threshold, CAST(total - n_cust AS BIGINT) AS violations,
      CAST(n_cust AS DOUBLE) / greatest(total, 1) >= 0.99 AS passed FROM o
    UNION ALL
    SELECT 'unique', 'o_orderkey', ROUND(CAST(n_ok - d_ok AS DOUBLE), {ROUND}),
      CAST(0.0 AS DOUBLE), CAST(n_ok - d_ok AS BIGINT), n_ok = d_ok FROM o
    UNION ALL
    SELECT 'in_set', 'o_orderstatus', ROUND(CAST(v_dom AS DOUBLE), {ROUND}),
      CAST(0.0 AS DOUBLE), v_dom, v_dom = 0 FROM o
    UNION ALL
    SELECT 'range', 'o_totalprice', ROUND(CAST(v_rng AS DOUBLE), {ROUND}),
      CAST(0.0 AS DOUBLE), v_rng, v_rng = 0 FROM o
    UNION ALL
    SELECT 'min_rows', '*', ROUND(CAST(total AS DOUBLE), {ROUND}),
      CAST(100.0 AS DOUBLE), CAST(CASE WHEN total < 100 THEN 1 ELSE 0 END AS BIGINT),
      total >= 100 FROM o
    UNION ALL
    SELECT 'implication', 'o_custkey -> o_orderstatus',
      ROUND(CAST(v_imp AS DOUBLE), {ROUND}), CAST(0.0 AS DOUBLE),
      v_imp, v_imp = 0 FROM o
    UNION ALL
    SELECT 'unique', '(o_custkey, o_orderdate)',
      ROUND(CAST(n_ck - d_ck AS DOUBLE), {ROUND}), CAST(0.0 AS DOUBLE),
      CAST(n_ck - d_ck AS BIGINT), n_ck = d_ck FROM o
    UNION ALL
    SELECT 'functional_dependency', '(o_orderkey) -> o_custkey',
      ROUND(CAST(vg AS DOUBLE) / greatest(ng, 1), {ROUND}),
      CAST(0.0 AS DOUBLE), vr, vg = 0 FROM fd
    UNION ALL
    SELECT 'foreign_key', 'l_orderkey', ROUND(CAST(v AS DOUBLE), {ROUND}),
      CAST(0.0 AS DOUBLE), v, v = 0 FROM fk"""


_FD_SUITE = [
    ("o_orderkey", "o_custkey"),  # holds: an order has one customer
    ("o_custkey", "o_orderstatus"),  # fans out: customers reorder
    (["o_orderstatus", "o_orderpriority"], "o_custkey"),  # composite, fans out
]


def q_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD invariants over orders — one holding, one fanning out, one with
    a composite determinant: all three share ONE scan (inline melt →
    keyed groupBy → tiny per-dependency rollup)."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        check_functional_dependencies,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    out = check_functional_dependencies(orders, _FD_SUITE)
    return _round_cols(out, ["metric", "threshold"])


def _functional_dependencies_sql() -> str:
    parts = []
    for xcols, y in _FD_SUITE:
        xs = [xcols] if isinstance(xcols, str) else list(xcols)
        label = "(" + ", ".join(xs) + ") -> " + y
        parts.append(f"""
    SELECT 'functional_dependency' AS constraint, '{label}' AS "column",
      ROUND(CAST(vg AS DOUBLE) / greatest(ng, 1), {ROUND}) AS metric,
      CAST(0.0 AS DOUBLE) AS threshold,
      vr AS violations, vg = 0 AS passed
    FROM (SELECT COUNT(*) AS ng,
            CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT) AS vg,
            CAST(SUM(CASE WHEN ny > 1 THEN nr ELSE 0 END) AS BIGINT) AS vr
          FROM (SELECT COUNT(DISTINCT {y}) AS ny, COUNT({y}) AS nr
                FROM orders GROUP BY {", ".join(xs)}))""")
    return " UNION ALL ".join(parts)


def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit deviation over four lineitem amount columns —
    l_tax and l_discount contain zeros, exercising the n_skipped path;
    the digit comes from the double's round-trip string form, so the
    extraction is exact at every magnitude (no BIGINT saturation)."""
    from pyspark_data_drift_detector_spark.operators.distribution import (
        benford_deviation,
    )

    li = _lineitem(spark, sf_dir)
    out = benford_deviation(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return _round_cols(out, ["tvd", "max_dev", "chi2_stat"])


def _benford_deviation_sql() -> str:
    import math

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    cells = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, abs(CAST({c} AS DOUBLE)) AS v"
        " FROM lineitem"
        for c in cols
    )
    digit_counts = ", ".join(
        f"CAST(SUM(CASE WHEN digit = {d} THEN 1 ELSE 0 END) AS DOUBLE) AS c{d}"
        for d in range(1, 10)
    )
    # the same Python math.log10 constants the Spark operator embeds —
    # both engines then compare identical expected probabilities
    p = {d: repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
    dev = [f"abs(c{d} / greatest(n, 1) - {p[d]})" for d in range(1, 10)]
    chi2 = [
        f"(CASE WHEN n > 0 THEN n * (c{d} / greatest(n, 1) - {p[d]})"
        f" * (c{d} / greatest(n, 1) - {p[d]}) / {p[d]} ELSE 0.0 END)"
        for d in range(1, 10)
    ]
    return f"""
    WITH cells AS ({cells}),
    d AS (SELECT column_name, v,
            try_cast(nullif(regexp_extract(CAST(v AS VARCHAR), '[1-9]', 0), '')
              AS INT) AS digit
          FROM cells),
    agg AS (SELECT column_name, COUNT(digit) AS n,
            CAST(SUM(CASE WHEN v IS NOT NULL AND digit IS NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
            {digit_counts}
          FROM d GROUP BY column_name)
    SELECT column_name, n, n_skipped,
      ROUND(({" + ".join(dev)}) / 2, {ROUND}) AS tvd,
      ROUND(greatest({", ".join(dev)}), {ROUND}) AS max_dev,
      ROUND({" + ".join(chi2)}, {ROUND}) AS chi2_stat
    FROM agg"""


def q_completeness_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day per-column null-count panel over events — the ingest-health
    monitor: one scan, one groupBy(bucket, column)."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        completeness_timeseries,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = completeness_timeseries(
        load_events(spark, sf_dir), "ts", ["user_id", "event_type", "value"]
    )
    return _round_cols(
        out.select(
            F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "column_name",
            "n_rows",
            "n_null",
            "null_ratio",
        ),
        ["null_ratio"],
    )


def _completeness_timeseries_sql() -> str:
    cells = " UNION ALL ".join(
        f"SELECT date_trunc('day', ts) AS b, '{c}' AS column_name,"
        f" CAST({c} IS NULL AS INT) AS is_null FROM events"
        for c in ["user_id", "event_type", "value"]
    )
    return f"""
    WITH cells AS ({cells})
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start, column_name,
      COUNT(*) AS n_rows,
      CAST(SUM(is_null) AS BIGINT) AS n_null,
      ROUND(CAST(SUM(is_null) AS DOUBLE) / greatest(COUNT(*), 1), {ROUND})
        AS null_ratio
    FROM cells GROUP BY 1, 2"""


def q_windowed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top event types via the frequent-items sketch (batch twin
    of the streaming path; exact in the untruncated regime, which the
    oracle pins with a plain per-window GROUP BY)."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import (
        windowed_heavy_hitters,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = windowed_heavy_hitters(load_events(spark, sf_dir), k=10)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "item",
        "count_estimate",
    )


def _windowed_heavy_hitters_sql() -> str:
    return """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      CAST(event_type AS VARCHAR) AS item,
      COUNT(*) AS count_estimate
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1, 2"""


def q_merged_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeable distinct state: orders is sketched per hash partition
    once (fixed-size Datasketches HLL per (partition, column)), the four
    partition sketches are UNIONED — no re-scan — and the merged estimate
    is checked against the exact distinct count. The oracle pins the exact
    count and the within-1.6%-relative-error contract (lg_k=12's standard
    error band, 3σ ≈ 5%): an estimator or merge regression flips
    within_tolerance to false and hash-mismatches."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_distinct,
        partitioned_distinct,
    )

    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]
    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    parts = partitioned_distinct(orders, cols, "pmod(o_orderkey, 4)")
    est = merged_distinct(parts)
    exact = orders.selectExpr(
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS STRING))"
            for c in cols
        )
        + "))"
    ).where(F.col("value").isNotNull()).groupBy("column_name").agg(
        F.countDistinct("value").alias("exact_distinct")
    )
    return est.join(exact, "column_name").selectExpr(
        "column_name",
        "CAST(exact_distinct AS BIGINT) AS exact_distinct",
        "abs(CAST(distinct_estimate AS DOUBLE) - exact_distinct)"
        " / exact_distinct <= 0.05 AS within_tolerance",
    )


def _merged_distinct_sql() -> str:
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]
    per = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
              COUNT(DISTINCT CAST({c} AS VARCHAR)) AS exact_distinct
            FROM orders WHERE {c} IS NOT NULL"""
        for c in cols
    )
    return f"""SELECT column_name, CAST(exact_distinct AS BIGINT) AS exact_distinct,
      TRUE AS within_tolerance FROM ({per})"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite keep/drop gate with per-rule reasons.

    The operator returns ``fail_reasons`` as array<string> for API users;
    the driver's pandas canonicalizer cannot hash list cells, so this
    entry projection serializes it to a comma-joined string (both
    engines)."""
    from pyspark_data_drift_detector_spark.operators.quality import quality_filter

    out = quality_filter(_documents(spark, sf_dir)).withColumn(
        "fail_reasons", F.array_join("fail_reasons", ",")
    )
    return _round_cols(out, ["avg_word_len", "distinct_ratio", "stopword_ratio"])


def _quality_filter_sql() -> str:
    stop = "['the','a','and','of','to','is','in']"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      LENGTH(REPLACE(text, ' ', '')) AS ns FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
      ns / GREATEST(len(toks), 1) AS awl,
      len(list_distinct(toks)) / GREATEST(len(toks), 1) AS dr,
      len(list_filter(toks, x -> list_contains({stop}, x)))
        / GREATEST(len(toks), 1) AS sr
    FROM t),
    r AS (SELECT *, list_filter([
        CASE WHEN n_tokens < 5 THEN 'too_short' END,
        CASE WHEN n_tokens > 100000 THEN 'too_long' END,
        CASE WHEN awl < 2.0 OR awl > 12.0 THEN 'word_length' END,
        CASE WHEN dr < 0.2 THEN 'low_diversity' END,
        CASE WHEN sr < 0.01 THEN 'low_stopword' END], x -> x IS NOT NULL) AS reasons
      FROM s)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      ROUND(awl, {ROUND}) AS avg_word_len,
      ROUND(dr, {ROUND}) AS distinct_ratio,
      ROUND(sr, {ROUND}) AS stopword_ratio,
      COALESCE(array_to_string(reasons, ','), '') AS fail_reasons,
      len(reasons) = 0 AS passes
    FROM r"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (32-token chunks, stride 24) — narrow fan-out."""
    from pyspark_data_drift_detector_spark.operators.text import chunk_documents

    return chunk_documents(_documents(spark, sf_dir), chunk_size=32, stride=24)


def _chunk_documents_sql() -> str:
    return """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (SELECT doc_id, toks, CASE WHEN n <= 32 THEN 1
            ELSE CAST(FLOOR((n - 32 + 23) / 24.0) AS BIGINT) + 1 END AS nc FROM n)
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      CAST(len(toks[i*24+1 : i*24+32]) AS BIGINT) AS n_chunk_tokens,
      array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text
    FROM c, UNNEST(generate_series(0, nc - 1)) AS g(i)"""


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack fill panel over the 512-token packing: doc counts, token
    totals, fill ratio, boundary-straddle overflow flags."""
    from pyspark_data_drift_detector_spark.operators.text import (
        pack_documents,
        packing_stats,
    )

    packed = pack_documents(_documents(spark, sf_dir), budget=512)
    return _round_cols(packing_stats(packed, budget=512), ["fill_ratio"])


def _packing_stats_sql() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
        SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM toks),
    packed AS (
      SELECT CAST((c - n_tokens) // 512 AS BIGINT) AS pack_id, n_tokens
      FROM cum)
    SELECT pack_id, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
      ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 512, {ROUND}) AS fill_ratio,
      CAST(SUM(n_tokens) AS BIGINT) > 512 AS overflowed
    FROM packed GROUP BY 1"""


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination of the corpus against the eval
    slice (vec_id % 50 == 0): max cosine per corpus vector against the
    inlined benchmark matrix — a narrow map, no join or shuffle."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _embeddings(spark, sf_dir)
    out = semantic_decontaminate(
        emb, emb.filter(F.col("vec_id") % 50 == 0), threshold=0.9
    )
    return _round_cols(out, ["max_cosine"])


def _semantic_decontaminate_sql() -> str:
    return f"""
    WITH b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS e
               FROM embeddings WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (SELECT c.vec_id, b.bid,
            list_cosine_similarity(c.e, b.e) AS sim,
            ROW_NUMBER() OVER (PARTITION BY c.vec_id
              ORDER BY list_cosine_similarity(c.e, b.e) DESC, b.bid ASC) AS rnk
          FROM c CROSS JOIN b)
    SELECT vec_id, ROUND(sim, {ROUND}) AS max_cosine,
      CAST(bid AS BIGINT) AS nearest_eval_id,
      sim >= 0.9 AS contaminated
    FROM s WHERE rnk = 1"""


_TOKEN_MIX = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix sampling toward a 12k-token budget: per-language
    target shares, acceptance rate min(1, share*budget/lang_tokens) over
    the deterministic md5 variate — corpus never shuffled."""
    from pyspark_data_drift_detector_spark.operators.sampling import (
        token_budget_sample,
    )

    out = token_budget_sample(
        _documents(spark, sf_dir), "lang", _TOKEN_MIX, token_budget=12000
    )
    return _round_cols(out, ["target_tokens", "sample_rate"])


def _token_budget_sample_sql() -> str:
    share = "CASE " + " ".join(
        f"WHEN lang = '{g}' THEN {s!r}" for g, s in sorted(_TOKEN_MIX.items())
    ) + " END"
    return f"""
    WITH d AS (
      SELECT doc_id, lang,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents),
    t AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS group_tokens
          FROM d GROUP BY 1),
    r AS (SELECT lang, group_tokens,
            CAST({share} * 12000.0 AS DOUBLE) AS target_tokens,
            CAST(LEAST(1.0, {share} * 12000.0 / GREATEST(group_tokens, 1))
              AS DOUBLE) AS sample_rate
          FROM t WHERE {share} IS NOT NULL)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, d.n_tokens,
      r.group_tokens,
      ROUND(r.target_tokens, {ROUND}) AS target_tokens,
      ROUND(r.sample_rate, {ROUND}) AS sample_rate
    FROM d JOIN r USING (lang)
    WHERE {_md5_u_sql("tokbudget")} < FLOOR(r.sample_rate * 1000000)"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: even-id documents are the already-seen
    state (fingerprints only), odd-id documents the new batch; per new
    doc: dup-of-state / dup-in-batch / keep."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        dedup_incremental,
    )
    from pyspark_data_drift_detector_spark.operators.text import fingerprint

    docs = _documents(spark, sf_dir)
    seen = fingerprint(docs.filter(F.col("doc_id") % 2 == 0))
    return dedup_incremental(docs.filter(F.col("doc_id") % 2 == 1), seen)


def _dedup_incremental_sql(
    state_pred: str = "doc_id % 2 = 0", batch_pred: str = "doc_id % 2 = 1"
) -> str:
    return f"""
    WITH fp AS (
      SELECT doc_id,
        md5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents),
    seen AS (SELECT DISTINCT fingerprint FROM fp WHERE {state_pred}),
    new AS (SELECT doc_id, fingerprint FROM fp WHERE {batch_pred}),
    r AS (
      SELECT n.doc_id, n.fingerprint,
        s.fingerprint IS NOT NULL AS dup_of_state,
        ROW_NUMBER() OVER (PARTITION BY n.fingerprint
          ORDER BY n.doc_id ASC) AS rnk
      FROM new n LEFT JOIN seen s USING (fingerprint))
    SELECT doc_id, fingerprint, dup_of_state,
      rnk > 1 AS dup_in_batch,
      (NOT dup_of_state) AND rnk = 1 AS keep
    FROM r"""


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-day-of-week baseline anomalies: even-user events build the
    per-dow baseline, odd-user daily buckets are z-scored against it —
    weekend dips compare to weekends, not the weekly mean."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        seasonal_anomalies,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    out = seasonal_anomalies(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )
    return _round_cols(
        out.select(
            F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "dow",
            "n_rows",
            "bucket_mean",
            "n_baseline_buckets",
            "expected_mean",
            "expected_std",
            "z_score",
            "anomaly",
        ),
        ["bucket_mean", "expected_mean", "expected_std", "z_score"],
    )


def _seasonal_anomalies_sql() -> str:
    return f"""
    WITH rb AS (
      SELECT date_trunc('day', ts) AS b, COUNT(*) AS n_rows,
        AVG(CAST(value AS DOUBLE)) AS bucket_mean
      FROM events WHERE user_id % 2 = 0 GROUP BY 1),
    base AS (
      SELECT dayofweek(b) AS dow, COUNT(*) AS n_baseline_buckets,
        AVG(bucket_mean) AS expected_mean,
        STDDEV_SAMP(bucket_mean) AS expected_std
      FROM rb GROUP BY 1),
    cb AS (
      SELECT date_trunc('day', ts) AS b, COUNT(*) AS n_rows,
        AVG(CAST(value AS DOUBLE)) AS bucket_mean
      FROM events WHERE user_id % 2 = 1 GROUP BY 1),
    j AS (
      SELECT cb.b, dayofweek(cb.b) AS dow, cb.n_rows, cb.bucket_mean,
        CAST(COALESCE(base.n_baseline_buckets, 0) AS BIGINT)
          AS n_baseline_buckets,
        base.expected_mean, base.expected_std,
        CASE WHEN base.n_baseline_buckets >= 2 AND base.expected_std > 0
          THEN (cb.bucket_mean - base.expected_mean) / base.expected_std
        END AS z_score
      FROM cb LEFT JOIN base ON dayofweek(cb.b) = base.dow)
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
      CAST(dow AS INT) AS dow, n_rows,
      ROUND(bucket_mean, {ROUND}) AS bucket_mean,
      n_baseline_buckets,
      ROUND(expected_mean, {ROUND}) AS expected_mean,
      ROUND(expected_std, {ROUND}) AS expected_std,
      ROUND(z_score, {ROUND}) AS z_score,
      CASE WHEN z_score IS NOT NULL THEN abs(z_score) > 3.0 END AS anomaly
    FROM j"""


def q_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention/churn between the even/odd orders snapshots over
    customer and status keys — population rotation that frequency drift
    can miss; one side-tagged groupBy per key, no join."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import (
        key_overlap_drift,
    )

    orders = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
    out = key_overlap_drift(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
        ["o_custkey", "o_orderstatus"],
        churn_threshold=0.25,
    )
    return _round_cols(out, ["jaccard", "churn_rate", "new_rate"])


def _key_overlap_sql() -> str:
    cells = " UNION ALL ".join(
        f"SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'r' ELSE 'c' END AS side,"
        f" '{c}' AS column_name,"
        f" coalesce(CAST({c} AS VARCHAR), chr(1) || '<null>') AS key"
        " FROM orders"
        for c in ["o_custkey", "o_orderstatus"]
    )
    return f"""
    WITH cells AS ({cells}),
    flags AS (
      SELECT column_name, key,
        MAX(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS in_ref,
        MAX(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS in_curr
      FROM cells GROUP BY 1, 2),
    agg AS (
      SELECT column_name,
        CAST(SUM(in_ref) AS BIGINT) AS ref_keys,
        CAST(SUM(in_curr) AS BIGINT) AS curr_keys,
        CAST(SUM(in_ref * in_curr) AS BIGINT) AS retained,
        CAST(SUM(in_ref * (1 - in_curr)) AS BIGINT) AS churned,
        CAST(SUM((1 - in_ref) * in_curr) AS BIGINT) AS new_keys,
        COUNT(*) AS union_keys
      FROM flags GROUP BY 1)
    SELECT column_name, ref_keys, curr_keys, retained, churned, new_keys,
      ROUND(CAST(retained AS DOUBLE) / GREATEST(union_keys, 1), {ROUND})
        AS jaccard,
      ROUND(CAST(churned AS DOUBLE) / GREATEST(ref_keys, 1), {ROUND})
        AS churn_rate,
      ROUND(CAST(new_keys AS DOUBLE) / GREATEST(curr_keys, 1), {ROUND})
        AS new_rate,
      CAST(churned AS DOUBLE) / GREATEST(ref_keys, 1) > 0.25
        AS drift_detected
    FROM agg"""


def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-mixture drift between the even/odd embedding snapshots:
    shared deterministic centroids (first 8 ref vectors), narrow-map
    argmax-cosine assignment, per-cluster share comparison."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        cluster_balance_drift,
    )

    emb = _embeddings(spark, sf_dir)
    out = cluster_balance_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        n_clusters=8,
        threshold=0.0215,
    )
    return _round_cols(out, ["ref_share", "curr_share", "share_abs_diff"])


def _cluster_balance_sql() -> str:
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
    v AS (
      SELECT CASE WHEN vec_id % 2 = 0 THEN 'r' ELSE 'c' END AS side,
             vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    a AS (
      SELECT side, vec_id, cid,
        ROW_NUMBER() OVER (PARTITION BY side, vec_id
          ORDER BY list_cosine_similarity(v.e, cents.e) DESC, cid ASC) AS rnk
      FROM v CROSS JOIN cents),
    cnt AS (
      SELECT CAST(cid AS BIGINT) AS cluster_id,
        CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS curr_n
      FROM a WHERE rnk = 1 GROUP BY 1),
    sh AS (
      SELECT cluster_id, ref_n, curr_n,
        CAST(ref_n AS DOUBLE) / greatest(SUM(ref_n) OVER (), 1) AS rs,
        CAST(curr_n AS DOUBLE) / greatest(SUM(curr_n) OVER (), 1) AS cs
      FROM cnt)
    SELECT cluster_id, ref_n, curr_n,
      ROUND(rs, {ROUND}) AS ref_share,
      ROUND(cs, {ROUND}) AS curr_share,
      ROUND(abs(cs - rs), {ROUND}) AS share_abs_diff,
      abs(cs - rs) > 0.0215 AS drift_detected
    FROM sh"""


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token context windows by contiguous fill
    in doc_id order — the distributed two-phase prefix sum assigns every
    document a reproducible pack_id; the oracle replays the running sum
    as a plain window (bit-identical integer math)."""
    from pyspark_data_drift_detector_spark.operators.text import pack_documents

    return pack_documents(_documents(spark, sf_dir), budget=512)


def _pack_documents_sql() -> str:
    return """
    WITH toks AS (
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
        SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM toks)
    SELECT doc_id, n_tokens,
      CAST((c - n_tokens) // 512 AS BIGINT) AS pack_id FROM cum"""


def q_pack_documents_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-per-source packing: 512-token context windows filled
    contiguously WITHIN each lang (pack_id restarts per group — no pack
    mixes languages); the oracle replays per-group window cumsums."""
    from pyspark_data_drift_detector_spark.operators.text import (
        pack_documents,
    )

    return pack_documents(
        _documents(spark, sf_dir), budget=512, group_col="lang"
    )


def _pack_documents_grouped_sql() -> str:
    return """
    WITH toks AS (
      SELECT COALESCE(CAST(lang AS VARCHAR), '__null__') AS g, doc_id,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
          AS n_tokens
      FROM documents),
    cum AS (
      SELECT g, doc_id, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY g ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM toks)
    SELECT CASE WHEN g = '__null__' THEN NULL ELSE g END AS lang,
      doc_id, n_tokens,
      CAST((c - n_tokens) // 512 AS BIGINT) AS pack_id FROM cum"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis deterministic weighted sample (k=50, weight =
    n_chars) — TakeOrderedAndProject top-k, no global sort."""
    from pyspark_data_drift_detector_spark.operators.sampling import weighted_sample

    out = weighted_sample(_documents(spark, sf_dir), 50, "n_chars")
    return _round_cols(out.select("doc_id", "n_chars", "sample_key"), ["sample_key"])


def _weighted_sample_sql() -> str:
    return f"""
    WITH u AS (SELECT doc_id, n_chars,
        (({_md5_u_sql("wsample")}) + 0.5) / 1000000.0 AS uu
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(LN(uu) / n_chars, {ROUND}) AS sample_key
    FROM u ORDER BY LN(uu) / n_chars DESC, doc_id LIMIT 50"""


_NGRAM_TOKS_SQL = "SELECT doc_id, string_split(text,' ') t, LENGTH(text) nc FROM documents"


def _ngram_sql(n: int, where: str = "") -> str:
    """DuckDB twin of quality.ngrams_expr: all word n-grams, repeats kept."""
    return f"""SELECT doc_id, array_to_string(t[i:i+{n - 1}],' ') AS gram
      FROM ({_NGRAM_TOKS_SQL}) toks,
           unnest(range(1, GREATEST(len(t)-{n - 1},1)+1)) u(i) {where}"""


def _repetition_stats_sql() -> str:
    return f"""
    WITH base AS (SELECT doc_id, len(t) AS n_tokens,
                    len(list_distinct(t))*1.0/len(t) AS distinct_ratio, nc
                  FROM ({_NGRAM_TOKS_SQL}) toks),
    ng AS (SELECT doc_id, 2 AS n, gram FROM ({_ngram_sql(2)})
           UNION ALL SELECT doc_id, 3 AS n, gram FROM ({_ngram_sql(3)})),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM ng GROUP BY 1,2,3),
    p AS (SELECT doc_id, n, MAX(cnt*1000000 + cnt*LENGTH(gram)) AS packed
          FROM c GROUP BY 1,2),
    w AS (SELECT b.doc_id, b.n_tokens, b.distinct_ratio, b.nc,
            MAX(CASE WHEN n=2 THEN packed END) AS p2,
            MAX(CASE WHEN n=3 THEN packed END) AS p3
          FROM base b JOIN p USING (doc_id) GROUP BY 1,2,3,4)
    SELECT doc_id,
      CAST(n_tokens AS BIGINT) AS n_tokens,
      ROUND(distinct_ratio,{ROUND}) AS distinct_ratio,
      ROUND(1.0-distinct_ratio,{ROUND}) AS dup_word_frac,
      CAST(p2//1000000 AS BIGINT) AS top_2gram_count,
      ROUND((p2%1000000)*1.0/nc,{ROUND}) AS top_2gram_char_frac,
      CAST(p3//1000000 AS BIGINT) AS top_3gram_count,
      ROUND((p3%1000000)*1.0/nc,{ROUND}) AS top_3gram_char_frac,
      (distinct_ratio < 0.35
       OR (p2//1000000 >= 2 AND (p2%1000000)*1.0/nc > 0.12)
       OR (p3//1000000 >= 2 AND (p3%1000000)*1.0/nc > 0.18)) AS repetitive
    FROM w"""


def _boilerplate_ngrams_sql() -> str:
    return f"""
    WITH per_doc AS (SELECT doc_id, gram, COUNT(*) AS occ
                     FROM ({_ngram_sql(4)}) GROUP BY 1,2)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_count,
           CAST(SUM(occ) AS BIGINT) AS total_count
    FROM per_doc GROUP BY gram HAVING COUNT(*) >= 3"""


def _decontaminate_sql() -> str:
    return f"""
    WITH ng AS (SELECT DISTINCT doc_id, gram FROM ({_ngram_sql(4)})),
    bench AS (SELECT DISTINCT gram FROM ng WHERE doc_id % 50 = 0)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_ngrams,
           TRUE AS contaminated
    FROM ng JOIN bench USING (gram) GROUP BY doc_id"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (filter built from the benchmark
    grams via bit_or, candidates confirmed in an equi-join) — the scale
    path when the benchmark gram set is too big to broadcast as
    strings. The output is provably EXACT, so the oracle is the plain
    decontaminate replay."""
    from pyspark_data_drift_detector_spark.operators.quality import (
        bloom_decontaminate,
    )

    docs = _documents(spark, sf_dir)
    return bloom_decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0), n=4)


def _md5_u_sql(salt: str) -> str:
    """DuckDB twin of sampling.uniform_variate (md5₆₀(id‖salt) mod 10⁶)."""
    return (
        "('0x'||substring(md5(CAST(doc_id AS VARCHAR)||'|"
        + salt
        + "'),1,15))::BIGINT % 1000000"
    )


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.3 temperature rebalancing of the documents language mixture
    (mT5-style tail upsampling) — deterministic hash membership, oracle
    replays the α-power weights and the md5 variate."""
    from pyspark_data_drift_detector_spark.operators.sampling import temperature_sample

    out = temperature_sample(
        _documents(spark, sf_dir), ["lang"], total_target=120, alpha=0.3
    )
    return _round_cols(
        out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "stratum_count",
            "mix_weight",
            "sample_rate",
        ),
        ["mix_weight", "sample_rate"],
    )


def _temperature_sample_sql() -> str:
    return f"""
    WITH c AS (SELECT lang, COUNT(*) AS stratum_count FROM documents GROUP BY 1),
    z AS (SELECT SUM(POW(CAST(stratum_count AS DOUBLE), 0.3)) AS zz FROM c),
    r AS (SELECT lang, stratum_count,
            POW(CAST(stratum_count AS DOUBLE), 0.3) / zz AS mix_weight,
            LEAST(1.0, POW(CAST(stratum_count AS DOUBLE), 0.3) / zz
                       * 120.0 / stratum_count) AS sample_rate
          FROM c CROSS JOIN z),
    u AS (SELECT doc_id, lang, {_md5_u_sql("temp")} AS uu FROM documents)
    SELECT CAST(u.doc_id AS BIGINT) AS doc_id, u.lang,
      CAST(r.stratum_count AS BIGINT) AS stratum_count,
      ROUND(r.mix_weight, {ROUND}) AS mix_weight,
      ROUND(r.sample_rate, {ROUND}) AS sample_rate
    FROM u JOIN r USING (lang)
    WHERE u.uu < FLOOR(r.sample_rate * 1000000)"""


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-mix rebalancing of the documents language mixture
    (en 40 / zh 20 / de 20 / fr 10 / es 10): downsample-only rates from
    the scarcest-group cap, deterministic md5 membership; oracle replays
    the rate table and the variate."""
    from pyspark_data_drift_detector_spark.operators.sampling import mix_sample

    out = mix_sample(
        _documents(spark, sf_dir),
        "lang",
        {"en": 0.4, "zh": 0.2, "de": 0.2, "fr": 0.1, "es": 0.1},
    )
    return _round_cols(
        out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "group_count",
            "target_share",
            "sample_rate",
        ),
        ["target_share", "sample_rate"],
    )


def q_mix_sample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted twin of mix_sample: group masses are n_chars sums
    (the EXPECTED WEIGHT mix matches the spec — what an LM data recipe
    actually pins); same deterministic membership."""
    from pyspark_data_drift_detector_spark.operators.sampling import mix_sample

    out = mix_sample(
        _documents(spark, sf_dir),
        "lang",
        {"en": 0.4, "zh": 0.2, "de": 0.2, "fr": 0.1, "es": 0.1},
        weight_col="n_chars",
    )
    return _round_cols(
        out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "group_count",
            "target_share",
            "sample_rate",
        ),
        ["target_share", "sample_rate"],
    )


def _mix_sample_tokens_sql() -> str:
    return f"""
    WITH c AS (SELECT lang, SUM(CAST(n_chars AS DOUBLE)) AS mass
               FROM documents GROUP BY 1),
    t(lang, target_share) AS (VALUES
      ('en', CAST(0.4 AS DOUBLE)), ('zh', CAST(0.2 AS DOUBLE)),
      ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
      ('es', CAST(0.1 AS DOUBLE))),
    j AS (SELECT c.lang, c.mass, t.target_share FROM c JOIN t USING (lang)),
    m AS (SELECT MIN(mass / target_share) AS nmax FROM j),
    r AS (SELECT lang, CAST(mass AS BIGINT) AS group_count, target_share,
            LEAST(CAST(1.0 AS DOUBLE), target_share * nmax / mass)
              AS sample_rate
          FROM j CROSS JOIN m),
    u AS (SELECT doc_id, lang, {_md5_u_sql("mix")} AS uu FROM documents)
    SELECT CAST(u.doc_id AS BIGINT) AS doc_id, u.lang, r.group_count,
      ROUND(r.target_share, {ROUND}) AS target_share,
      ROUND(r.sample_rate, {ROUND}) AS sample_rate
    FROM u JOIN r USING (lang)
    WHERE u.uu < FLOOR(r.sample_rate * 1000000)"""


def q_mix_sample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsampling mixer: hit the explicit lang token mixture by
    REPEATING scarce groups (epochs > 1, capped at 16) and thinning
    abundant ones (epochs < 1), expected total mass preserved — the
    multi-epoch data recipe. copy_idx distinguishes repeats."""
    from pyspark_data_drift_detector_spark.operators.sampling import (
        mix_sample_epochs,
    )

    out = mix_sample_epochs(
        _documents(spark, sf_dir),
        "lang",
        {"en": 0.4, "zh": 0.2, "de": 0.2, "fr": 0.1, "es": 0.1},
        weight_col="n_chars",
    )
    return _round_cols(
        out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "copy_idx",
            "group_count",
            "target_share",
            "epochs",
        ),
        ["target_share", "epochs"],
    )


def _mix_sample_epochs_sql(max_epochs: float = 16.0) -> str:
    return f"""
    WITH c AS (SELECT lang, SUM(CAST(n_chars AS DOUBLE)) AS mass
               FROM documents GROUP BY 1
               HAVING SUM(CAST(n_chars AS DOUBLE)) > 0),
    t(lang, target_share) AS (VALUES
      ('en', CAST(0.4 AS DOUBLE)), ('zh', CAST(0.2 AS DOUBLE)),
      ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
      ('es', CAST(0.1 AS DOUBLE))),
    j AS (SELECT c.lang, c.mass, t.target_share FROM c JOIN t USING (lang)),
    m AS (SELECT SUM(mass) AS tot FROM j),
    r AS (SELECT lang, CAST(mass AS BIGINT) AS group_count, target_share,
            LEAST(CAST({max_epochs!r} AS DOUBLE),
                  target_share * tot / mass) AS epochs
          FROM j CROSS JOIN m),
    u AS (SELECT doc_id, lang, {_md5_u_sql("mix")} AS uu FROM documents)
    SELECT CAST(u.doc_id AS BIGINT) AS doc_id, u.lang,
      CAST(i.i AS INT) AS copy_idx, r.group_count,
      ROUND(r.target_share, {ROUND}) AS target_share,
      ROUND(r.epochs, {ROUND}) AS epochs
    FROM u JOIN r USING (lang)
    CROSS JOIN range({int(max_epochs) + 1}) i(i)
    WHERE i.i < FLOOR(r.epochs)
       OR (i.i = FLOOR(r.epochs)
           AND u.uu < FLOOR((r.epochs - FLOOR(r.epochs)) * 1000000))"""


def _mix_sample_sql() -> str:
    return f"""
    WITH c AS (SELECT lang, COUNT(*) AS group_count FROM documents GROUP BY 1),
    t(lang, target_share) AS (VALUES
      ('en', CAST(0.4 AS DOUBLE)), ('zh', CAST(0.2 AS DOUBLE)),
      ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
      ('es', CAST(0.1 AS DOUBLE))),
    j AS (SELECT c.lang, CAST(c.group_count AS DOUBLE) AS mass, t.target_share
          FROM c JOIN t USING (lang)),
    m AS (SELECT MIN(mass / target_share) AS nmax FROM j),
    r AS (SELECT lang, CAST(mass AS BIGINT) AS group_count, target_share,
            LEAST(CAST(1.0 AS DOUBLE), target_share * nmax / mass)
              AS sample_rate
          FROM j CROSS JOIN m),
    u AS (SELECT doc_id, lang, {_md5_u_sql("mix")} AS uu FROM documents)
    SELECT CAST(u.doc_id AS BIGINT) AS doc_id, u.lang, r.group_count,
      ROUND(r.target_share, {ROUND}) AS target_share,
      ROUND(r.sample_rate, {ROUND}) AS sample_rate
    FROM u JOIN r USING (lang)
    WHERE u.uu < FLOOR(r.sample_rate * 1000000)"""


def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group corpus cap: at most 3 docs per (lang, source), selected
    by the deterministic md5 variate so any layout keeps the same rows.
    Oracle: ROW_NUMBER over the replayed variate."""
    from pyspark_data_drift_detector_spark.operators.sampling import cap_per_group

    out = cap_per_group(_documents(spark, sf_dir), ["lang", "source"], 3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "source"
    )


def _cap_per_group_sql() -> str:
    return f"""
    WITH u AS (SELECT doc_id, lang, source, {_md5_u_sql("cap")} AS uu FROM documents),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
             ORDER BY uu ASC, doc_id ASC) AS rn FROM u)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source FROM r WHERE rn <= 3"""


def q_fit_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the documents corpus (3 merges): the
    learned merge table — most-frequent adjacent symbol pair per
    iteration, canonical greedy merge application, count-desc /
    left-asc / right-asc tie-break. Float-free, so the oracle replays
    the fit exactly (recursive repeated-first-merge == the greedy
    sweep; a fused symbol can never re-merge within a sweep)."""
    from pyspark_data_drift_detector_spark.operators.corpus import fit_bpe

    return fit_bpe(_documents(spark, sf_dir), n_merges=3)


def q_fit_bpe_driver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 scale path of the BPE trainer (operators.corpus.fit_bpe
    with fit_mode='driver'): the Heaps-law word-count table is collected
    ONCE and the classic heap-based pair-count trainer runs driver-side
    — zero Spark jobs per merge, merge-for-merge identical to the
    DataFrame path, so it shares q_fit_bpe's recursive DuckDB oracle."""
    from pyspark_data_drift_detector_spark.operators.corpus import fit_bpe

    return fit_bpe(_documents(spark, sf_dir), n_merges=3, fit_mode="driver")


def _bpe_rec_sql(prev_w: str, b: str, r: str) -> str:
    """One recursive merge-application CTE: repeatedly fuse the FIRST
    remaining (l, r) adjacency per word — equivalent to the canonical
    one-sweep greedy because a fused symbol would have to equal its own
    left half to re-merge, and fusing never creates a new (l, r)
    adjacency across the fused position."""
    return f"""
    {r} AS (
      SELECT sym, wc FROM {prev_w}
      UNION ALL
      SELECT sym[:pos-1] || [l || r] || sym[pos+2:] AS sym, wc
      FROM (SELECT {r}.sym AS sym, {r}.wc AS wc, {b}.l AS l, {b}.r AS r,
              list_filter(range(1, len({r}.sym)),
                          i -> {r}.sym[i] = {b}.l
                               AND {r}.sym[i+1] = {b}.r)[1] AS pos
            FROM {r}, {b}) q
      WHERE pos IS NOT NULL)"""


def _bpe_pairs_sql(name: str, src: str) -> str:
    return f"""
    {name} AS (SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(wc) AS BIGINT) AS c
      FROM (SELECT unnest(list_zip(sym[:-2], sym[2:])) AS pr, wc
            FROM {src}) z
      GROUP BY 1, 2)"""


def _bpe_fixed_sql(name: str, src: str, b: str) -> str:
    """Terminal states only: recursion emits every intermediate step;
    a word's final sequence is the one with no (l, r) adjacency left."""
    return f"""
    {name} AS (SELECT sym, wc
      FROM (SELECT {src}.sym AS sym, {src}.wc AS wc,
              list_filter(range(1, len({src}.sym)),
                          i -> {src}.sym[i] = {b}.l
                               AND {src}.sym[i+1] = {b}.r)[1] AS pos
            FROM {src} LEFT JOIN {b} ON TRUE) q
      WHERE pos IS NULL)"""


def q_transition_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-side vet-the-increment member: the last-10-days batch's
    transition mix (within-batch lags + the cross-batch stitch from
    each user's prior last event) vetted against the first-20-days pair
    state — prior events never re-read."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        transition_incremental,
        transition_last_state,
        transition_pair_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    prior = ev.filter("ts < TIMESTAMP '2024-01-21'")
    batch = ev.filter("ts >= TIMESTAMP '2024-01-21'")
    out = transition_incremental(
        batch, transition_pair_state(prior), transition_last_state(prior)
    )
    return _round_cols(out, ["ref_share", "curr_share", "share_abs_diff"])


def _transition_incremental_sql(thr: float = 0.02) -> str:
    return f"""
    WITH pe AS (SELECT user_id AS u, event_type AS et, ts, event_id AS o
                FROM events WHERE ts < TIMESTAMP '2024-01-21'),
    be AS (SELECT user_id AS u, event_type AS et, ts, event_id AS o
           FROM events WHERE ts >= TIMESTAMP '2024-01-21'),
    pw AS (SELECT et, LAG(et) OVER (PARTITION BY u ORDER BY ts, o) AS p
           FROM pe),
    pc AS (SELECT p AS prev_type, et AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM pw WHERE p IS NOT NULL GROUP BY 1, 2),
    pl AS (SELECT u AS user_key, et AS last_type FROM (
             SELECT u, et, ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY ts DESC, o DESC) AS rn FROM pe) x
           WHERE rn = 1),
    bw AS (SELECT et, LAG(et) OVER (PARTITION BY u ORDER BY ts, o) AS p
           FROM be),
    within AS (SELECT p AS prev_type, et AS next_type
               FROM bw WHERE p IS NOT NULL),
    firsts AS (SELECT u, et FROM (
                 SELECT u, et, ROW_NUMBER() OVER (PARTITION BY u
                   ORDER BY ts, o) AS rn FROM be) x
               WHERE rn = 1),
    stitched AS (
      SELECT l.last_type AS prev_type, f.et AS next_type
      FROM firsts f JOIN pl l ON f.u IS NOT DISTINCT FROM l.user_key),
    bc AS (
      SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT * FROM within UNION ALL SELECT * FROM stitched) a
      GROUP BY 1, 2),
    rt AS (SELECT CAST(coalesce(SUM(n), 0) AS BIGINT) AS tot FROM pc),
    ct AS (SELECT CAST(coalesce(SUM(n), 0) AS BIGINT) AS tot FROM bc),
    panel AS (
      SELECT coalesce(r.prev_type, c.prev_type) AS prev_type,
        coalesce(r.next_type, c.next_type) AS next_type,
        coalesce(r.n, 0) AS ref_n, coalesce(c.n, 0) AS curr_n
      FROM pc r FULL OUTER JOIN bc c
        ON r.prev_type IS NOT DISTINCT FROM c.prev_type
        AND r.next_type IS NOT DISTINCT FROM c.next_type)
    SELECT prev_type, next_type, ref_n, curr_n,
      ROUND(ref_share, {ROUND}) AS ref_share,
      ROUND(curr_share, {ROUND}) AS curr_share,
      ROUND(abs(ref_share - curr_share), {ROUND}) AS share_abs_diff,
      ROUND(abs(ref_share - curr_share), 5) > CAST({thr!r} AS DOUBLE)
        AS drift_detected
    FROM (
      SELECT p.*,
        CASE WHEN rt.tot > 0 THEN p.ref_n / CAST(rt.tot AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS ref_share,
        CASE WHEN ct.tot > 0 THEN p.curr_n / CAST(ct.tot AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS curr_share
      FROM panel p CROSS JOIN rt CROSS JOIN ct) s"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step user paths over the events stream: one lag
    window pass per user (ts order, event_id tie-break), path counts,
    distinct-user support and window share; heap top-k with path
    tie-break."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        event_paths,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _round_cols(event_paths(ev, n=3, top_k=15), ["share"])


def _event_paths_sql(n: int = 3, top_k: int = 15) -> str:
    lags = ", ".join(
        f"LAG(event_type, {i}) OVER (PARTITION BY user_id"
        f" ORDER BY ts, event_id) AS p{i}"
        for i in range(1, n)
    )
    steps = " || '>' || ".join(f"p{i}" for i in range(n - 1, 0, -1))
    return f"""
    WITH w AS (
      SELECT user_id AS u, event_type AS et, {lags} FROM events),
    paths AS (
      SELECT u, {steps} || '>' || et AS path
      FROM w WHERE p{n - 1} IS NOT NULL),
    c AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
      FROM paths GROUP BY 1)
    SELECT path, n_occurrences, n_users,
      ROUND(n_occurrences / CAST(SUM(n_occurrences) OVER () AS DOUBLE),
            {ROUND}) AS share
    FROM c
    ORDER BY n_occurrences DESC, path ASC LIMIT {top_k}"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events stream: users
    bucketed by first-seen ISO week, distinct-activity counts per
    (cohort, week offset), retention vs the cohort size."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        retention_cohorts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _round_cols(retention_cohorts(ev), ["retention"])


def _retention_cohorts_sql() -> str:
    return f"""
    WITH act AS (
      SELECT DISTINCT user_id AS u,
        CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events),
    firsts AS (SELECT u, MIN(wk) AS cohort FROM act GROUP BY u),
    j AS (
      SELECT f.cohort AS cohort,
        CAST(datediff('day', f.cohort, a.wk) // 7 AS BIGINT) AS "offset"
      FROM act a JOIN firsts f ON a.u IS NOT DISTINCT FROM f.u),
    m AS (
      SELECT cohort, "offset", CAST(COUNT(1) AS BIGINT) AS n_active
      FROM j GROUP BY 1, 2),
    sz AS (SELECT cohort, n_active AS cohort_size FROM m WHERE "offset" = 0)
    SELECT strftime(m.cohort, '%Y-%m-%d') AS cohort,
      m."offset" AS offset, m.n_active, s.cohort_size,
      ROUND(m.n_active / CAST(s.cohort_size AS DOUBLE), {ROUND})
        AS retention
    FROM m JOIN sz s ON m.cohort = s.cohort"""


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette cluster quality under the first-8-by-id
    centroid convention: per-cluster and overall mean of
    (cos1-cos2)/(1-cos2) over every valid vector — the boundary-vector
    score the topic-mix family lacks. Oracle replays the inlined
    cosines with list_dot_product folds and the rnk-1/rnk-2 pair."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        cluster_silhouette,
    )

    emb = _embeddings(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    return _round_cols(cluster_silhouette(emb, cents), ["mean_silhouette"])


def _cluster_silhouette_sql(dim: int = 64) -> str:
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS e
      FROM embeddings ORDER BY vec_id LIMIT 8),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    sc AS (
      SELECT v.vec_id, cents.cid,
        list_dot_product(v.e, cents.e)
          / (sqrt(list_dot_product(v.e, v.e))
             * sqrt(list_dot_product(cents.e, cents.e))) AS cos
      FROM v CROSS JOIN cents),
    rk AS (
      SELECT vec_id, cid, cos,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, cid ASC) AS rnk
      FROM sc),
    pair AS (
      SELECT a.vec_id, a.cid AS cluster_id, a.cos AS c1, b.cos AS c2
      FROM rk a JOIN rk b ON a.vec_id = b.vec_id
      WHERE a.rnk = 1 AND b.rnk = 2),
    s AS (
      SELECT cluster_id,
        CASE WHEN 1.0 - c2 > 0.0 THEN (c1 - c2) / (1.0 - c2)
             ELSE CAST(0.0 AS DOUBLE) END AS sil
      FROM pair)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
      CAST(COUNT(*) AS BIGINT) AS n_vectors,
      ROUND(AVG(sil), {ROUND}) AS mean_silhouette
    FROM s GROUP BY cluster_id
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(COUNT(*) AS BIGINT),
      ROUND(AVG(sil), {ROUND})
    FROM s"""


def q_transition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition-mix drift between the even/odd event-id halves
    of the events stream: per-user lag pairs (ts order, event_id
    tie-break), transition shares aligned full-outer, flag on share
    moves > 0.02."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        transition_drift,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = transition_drift(
        ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    )
    return _round_cols(out, ["ref_share", "curr_share", "share_abs_diff"])


def _transition_drift_sql(thr: float = 0.02) -> str:
    def side(name: str, parity: int) -> str:
        return f"""
    {name}_t AS (
      SELECT prev_et AS prev_type, et AS next_type FROM (
        SELECT event_type AS et,
          LAG(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_et
        FROM events WHERE event_id % 2 = {parity}) x
      WHERE prev_et IS NOT NULL),
    {name}_c AS (
      SELECT prev_type, next_type, CAST(COUNT(1) AS BIGINT) AS n
      FROM {name}_t GROUP BY 1, 2),
    {name}_tot AS (
      SELECT CAST(coalesce(SUM(n), 0) AS BIGINT) AS tot FROM {name}_c)"""

    return f"""
    WITH {side('r', 0)},
    {side('c', 1)},
    panel AS (
      SELECT coalesce(r.prev_type, c.prev_type) AS prev_type,
        coalesce(r.next_type, c.next_type) AS next_type,
        coalesce(r.n, 0) AS ref_n, coalesce(c.n, 0) AS curr_n
      FROM r_c r FULL OUTER JOIN c_c c
        ON r.prev_type IS NOT DISTINCT FROM c.prev_type
        AND r.next_type IS NOT DISTINCT FROM c.next_type)
    SELECT prev_type, next_type, ref_n, curr_n,
      ROUND(ref_share, {ROUND}) AS ref_share,
      ROUND(curr_share, {ROUND}) AS curr_share,
      ROUND(abs(ref_share - curr_share), {ROUND}) AS share_abs_diff,
      ROUND(abs(ref_share - curr_share), 5) > CAST({thr!r} AS DOUBLE)
        AS drift_detected
    FROM (
      SELECT p.*,
        CASE WHEN rt.tot > 0 THEN p.ref_n / CAST(rt.tot AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS ref_share,
        CASE WHEN ct.tot > 0 THEN p.curr_n / CAST(ct.tot AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS curr_share
      FROM panel p CROSS JOIN r_tot rt CROSS JOIN c_tot ct) s"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> signup -> purchase
    over the events stream: strictly-increasing completion times, first
    qualifying event per step, per-step conversion vs the funnel entry
    and vs the previous step."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        funnel_conversion,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = funnel_conversion(ev, ["view", "click", "signup", "purchase"])
    return _round_cols(out, ["share_of_first", "share_of_prev"])


def _funnel_sql(
    steps: tuple[str, ...] = ("view", "click", "signup", "purchase"),
    max_lag_seconds: int | None = None,
) -> str:
    ctes = [
        "ev AS (SELECT user_id AS u, event_type AS et, ts FROM events)",
        f"s0 AS (SELECT u, MIN(ts) AS t0 FROM ev"
        f" WHERE et = '{steps[0]}' GROUP BY u)",
    ]
    for i, step in enumerate(steps[1:], start=1):
        lag = (
            ""
            if max_lag_seconds is None
            else f" AND e.ts <= p.t{i-1}"
            f" + INTERVAL {int(max_lag_seconds)} SECOND"
        )
        ctes.append(
            f"s{i} AS (SELECT e.u AS u, MIN(e.ts) AS t{i}"
            f" FROM ev e JOIN s{i-1} p ON e.u IS NOT DISTINCT FROM p.u"
            f" WHERE e.et = '{step}' AND e.ts > p.t{i-1}{lag}"
            f" GROUP BY e.u)"
        )
    ctes.append(
        "counts AS (SELECT "
        + ", ".join(
            f"(SELECT CAST(COUNT(1) AS BIGINT) FROM s{i}) AS n{i}"
            for i in range(len(steps))
        )
        + ")"
    )
    selects = []
    for i, step in enumerate(steps):
        prev = f"n{i-1}" if i > 0 else "n0"
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS step_index,"
            f" '{step}' AS step, n{i} AS n_users,"
            f" ROUND(CASE WHEN n0 > 0 THEN n{i} / CAST(n0 AS DOUBLE) END,"
            f" {ROUND}) AS share_of_first,"
            f" ROUND(CASE WHEN {prev} > 0"
            f" THEN n{i} / CAST({prev} AS DOUBLE) END,"
            f" {ROUND}) AS share_of_prev FROM counts"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step time-to-convert over the view -> click -> signup ->
    purchase funnel: exact-microsecond deltas between a user's
    consecutive step completion times, aggregated to mean/p50/p90/
    min/max seconds per step. Same step semantics (and user sets) as
    q_funnel."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        funnel_latency,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = funnel_latency(ev, ["view", "click", "signup", "purchase"])
    return _round_cols(
        out,
        ["mean_seconds", "p50_seconds", "p90_seconds", "min_seconds",
         "max_seconds"],
    )


def _funnel_latency_sql(steps: tuple[str, ...] = ("view", "click",
                                                  "signup",
                                                  "purchase")) -> str:
    ctes = [
        "ev AS (SELECT user_id AS u, event_type AS et, ts FROM events)",
        f"s0 AS (SELECT u, MIN(ts) AS t FROM ev"
        f" WHERE et = '{steps[0]}' GROUP BY u)",
    ]
    for i, step in enumerate(steps[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.u AS u, MIN(e.ts) AS t"
            f" FROM ev e JOIN s{i-1} p ON e.u IS NOT DISTINCT FROM p.u"
            f" WHERE e.et = '{step}' AND e.ts > p.t"
            f" GROUP BY e.u)"
        )
    selects = []
    for i, step in enumerate(steps[1:], start=1):
        selects.append(
            f"""SELECT CAST({i} AS BIGINT) AS step_index, '{step}' AS step,
              CAST(COUNT(1) AS BIGINT) AS n_users,
              ROUND(AVG(d), {ROUND}) AS mean_seconds,
              ROUND(quantile_cont(d, 0.5), {ROUND}) AS p50_seconds,
              ROUND(quantile_cont(d, 0.9), {ROUND}) AS p90_seconds,
              ROUND(MIN(d), {ROUND}) AS min_seconds,
              ROUND(MAX(d), {ROUND}) AS max_seconds
            FROM (SELECT (epoch_us(c.t) - epoch_us(p.t)) / 1000000.0 AS d
                  FROM s{i} c JOIN s{i-1} p
                    ON c.u IS NOT DISTINCT FROM p.u)"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def q_watermark_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing: how much data would a delay of 0/10min/30min/
    1h/2h drop? The events stream is time-ordered in the synthetic
    corpus, so the query simulates a realistic ingest sequence — each
    event's arrival is its event time plus a deterministic md5 jitter
    of up to 2h (replayed exactly in SQL) — and the planner measures
    lateness against the running event-time max in arrival order (the
    distributed two-phase prefix-max)."""
    from pyspark_data_drift_detector_spark.operators.dedup import md5_hash60
    from pyspark_data_drift_detector_spark.operators.temporal import (
        watermark_planner,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts"
    )
    jitter = md5_hash60(
        F.concat_ws("|", F.col("event_id").cast("string"), F.lit("wm"))
    ) % 7200
    epoch_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    # unique arrival key: jittered second resolution + event_id tiebreak
    ev = ev.withColumn(
        "arrival", (epoch_s + jitter) * F.lit(10_000_000) + F.col("event_id")
    )
    out = watermark_planner(
        ev, [0, 600, 1800, 3600, 7200], ts_col="ts", order_col="arrival"
    )
    return _round_cols(
        out,
        ["late_share", "p50_lateness", "p90_lateness", "p99_lateness",
         "max_lateness"],
    )


def _watermark_planner_sql() -> str:
    delays = [0, 600, 1800, 3600, 7200]
    md5v = ("('0x'||substring(md5(CAST(event_id AS VARCHAR)||'|wm'),1,15))"
            "::BIGINT % 7200")
    nl = ", ".join(
        f"CAST(SUM(CASE WHEN late > {d} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nl{i}"
        for i, d in enumerate(delays)
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({d} AS BIGINT) AS delay_seconds, n_events,
      nl{i} AS n_late,
      ROUND(nl{i} / CAST(n_events AS DOUBLE), {ROUND}) AS late_share,
      p50_lateness, p90_lateness, p99_lateness, max_lateness FROM agg"""
        for i, d in enumerate(delays)
    )
    return f"""
    WITH base AS (
      -- floor division of integer micros: Spark's timestampdiff(SECOND)
      -- FLOORS fractional seconds while epoch(ts)::BIGINT would round
      SELECT ((epoch_us(ts) // 1000000) + {md5v}) * 10000000 + event_id
        AS o,
        ts AS t
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL),
    wm AS (SELECT t, MAX(t) OVER (ORDER BY o
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
           FROM base),
    l AS (SELECT (epoch_us(m) - epoch_us(t)) / 1000000.0 AS late FROM wm),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
      ROUND(quantile_cont(late, 0.5), {ROUND}) AS p50_lateness,
      ROUND(quantile_cont(late, 0.9), {ROUND}) AS p90_lateness,
      ROUND(quantile_cont(late, 0.99), {ROUND}) AS p99_lateness,
      ROUND(MAX(late), {ROUND}) AS max_lateness,
      {nl}
    FROM l)
    {rows}"""


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: each step only counts within 2 days of
    the previous step's completion (median step latency ≈ 1.5 days, so
    the window bites on roughly half the conversions) — "purchased
    within 48h", the form funnel metrics actually ship in."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        funnel_conversion,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = funnel_conversion(
        ev, ["view", "click", "signup", "purchase"],
        max_lag_seconds=172_800,
    )
    return _round_cols(out, ["share_of_first", "share_of_prev"])


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level version reconciliation on a simulated re-crawl: ref =
    doc_id%7!=0, curr = doc_id%5!=0 with text mutated on %3==0 and
    source on %4==0 — added/removed/changed/unchanged counts plus the
    per-column change attribution, all from ONE full-outer join and one
    wide aggregate."""
    from pyspark_data_drift_detector_spark.operators.schema_drift import (
        snapshot_diff,
    )

    docs = _documents(spark, sf_dir)
    ref = docs.filter("doc_id % 7 != 0")
    curr = docs.filter("doc_id % 5 != 0").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text",
        "lang",
        "CASE WHEN doc_id % 4 = 0 THEN 'src_new' ELSE source END AS source",
        "n_chars",
    )
    return _round_cols(snapshot_diff(ref, curr, ["doc_id"]), ["share"])


def _snapshot_diff_sql() -> str:
    return f"""
    WITH ref AS (
      SELECT doc_id, text, lang, source, n_chars, TRUE AS inr
      FROM documents WHERE doc_id % 7 <> 0),
    curr AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text,
        lang,
        CASE WHEN doc_id % 4 = 0 THEN 'src_new' ELSE source END AS source,
        n_chars, TRUE AS inc
      FROM documents WHERE doc_id % 5 <> 0),
    j AS (
      SELECT r.inr AS inr, c.inc AS inc,
        r.text IS DISTINCT FROM c.text AS d_text,
        r.lang IS DISTINCT FROM c.lang AS d_lang,
        r.source IS DISTINCT FROM c.source AS d_source,
        r.n_chars IS DISTINCT FROM c.n_chars AS d_n_chars
      FROM ref r FULL OUTER JOIN curr c
        ON r.doc_id IS NOT DISTINCT FROM c.doc_id),
    f AS (
      SELECT inr IS NOT NULL AS rp, inc IS NOT NULL AS cp,
        d_text, d_lang, d_source, d_n_chars
      FROM j),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
        CAST(SUM(CASE WHEN rp AND cp THEN 1 ELSE 0 END) AS BIGINT)
          AS matched,
        CAST(SUM(CASE WHEN NOT rp THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        CAST(SUM(CASE WHEN rp AND NOT cp THEN 1 ELSE 0 END) AS BIGINT)
          AS n_removed,
        CAST(SUM(CASE WHEN rp AND cp AND (d_text OR d_lang OR d_source
          OR d_n_chars) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        CAST(SUM(CASE WHEN rp AND cp AND NOT (d_text OR d_lang OR d_source
          OR d_n_chars) THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        CAST(SUM(CASE WHEN rp AND cp AND d_text THEN 1 ELSE 0 END)
          AS BIGINT) AS nd_text,
        CAST(SUM(CASE WHEN rp AND cp AND d_lang THEN 1 ELSE 0 END)
          AS BIGINT) AS nd_lang,
        CAST(SUM(CASE WHEN rp AND cp AND d_source THEN 1 ELSE 0 END)
          AS BIGINT) AS nd_source,
        CAST(SUM(CASE WHEN rp AND cp AND d_n_chars THEN 1 ELSE 0 END)
          AS BIGINT) AS nd_n_chars
      FROM f)
    SELECT 'rows' AS scope, 'added' AS key, n_added AS n_rows,
      ROUND(CASE WHEN total > 0 THEN n_added / CAST(total AS DOUBLE) END,
            {ROUND}) AS share FROM agg
    UNION ALL SELECT 'rows', 'removed', n_removed,
      ROUND(CASE WHEN total > 0 THEN n_removed / CAST(total AS DOUBLE) END,
            {ROUND}) FROM agg
    UNION ALL SELECT 'rows', 'changed', n_changed,
      ROUND(CASE WHEN total > 0 THEN n_changed / CAST(total AS DOUBLE) END,
            {ROUND}) FROM agg
    UNION ALL SELECT 'rows', 'unchanged', n_unchanged,
      ROUND(CASE WHEN total > 0 THEN n_unchanged / CAST(total AS DOUBLE) END,
            {ROUND}) FROM agg
    UNION ALL SELECT 'column', 'text', nd_text,
      ROUND(CASE WHEN matched > 0 THEN nd_text / CAST(matched AS DOUBLE) END,
            {ROUND}) FROM agg
    UNION ALL SELECT 'column', 'lang', nd_lang,
      ROUND(CASE WHEN matched > 0 THEN nd_lang / CAST(matched AS DOUBLE) END,
            {ROUND}) FROM agg
    UNION ALL SELECT 'column', 'source', nd_source,
      ROUND(CASE WHEN matched > 0
            THEN nd_source / CAST(matched AS DOUBLE) END, {ROUND}) FROM agg
    UNION ALL SELECT 'column', 'n_chars', nd_n_chars,
      ROUND(CASE WHEN matched > 0
            THEN nd_n_chars / CAST(matched AS DOUBLE) END, {ROUND}) FROM agg"""


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply round trip: fit 2 BPE merges on the documents
    corpus, segment every document with them, report per-doc token /
    char / BPE-token counts and the chars-per-BPE-token compression
    ratio. The oracle re-derives the same 2 merges and replays the
    segmentation on the vocabulary."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        bpe_segment,
        fit_bpe,
    )

    docs = _documents(spark, sf_dir)
    out = bpe_segment(docs, fit_bpe(docs, n_merges=2))
    return _round_cols(
        out.withColumn("doc_id", F.col("doc_id").cast("long")),
        ["compression"],
    )


def q_bpe_segment_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow scale path of :func:`q_bpe_segment`: same fit, same
    oracle, but segmentation runs as ONE ``mapInPandas`` pass applying
    the whole merge list per distinct word (constant plan size at
    32k-merge production tables) instead of the per-merge expression
    fold. Sharing the fold path's oracle SQL pins the two engines
    equal at the driver gate."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        bpe_segment,
        fit_bpe,
    )

    docs = _documents(spark, sf_dir)
    out = bpe_segment(docs, fit_bpe(docs, n_merges=2), apply_mode="arrow")
    return _round_cols(
        out.withColumn("doc_id", F.col("doc_id").cast("long")),
        ["compression"],
    )


def _bpe_two_merge_words_sql() -> str:
    """Shared oracle prefix: word counts, the first two learned merges
    (re-derived), and the merged word table ``w2`` (word, sym, wc) —
    consumed by both the segmentation and the vocabulary oracle."""
    return f"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents) t
      WHERE word <> ''),
    w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM toks GROUP BY 1),
    w0 AS (SELECT word, string_split(word, '') AS sym, wc FROM w),
    {_bpe_pairs_sql('p1', 'w0')},
    b1 AS (SELECT l, r, c FROM p1 WHERE c >= 2 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    {_bpe_apply_step_sql('r1', 'w1', 'w0', 'b1')},
    {_bpe_pairs_sql('p2', 'w1')},
    b2 AS (SELECT l, r, c FROM p2 WHERE c >= 2 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    {_bpe_apply_step_sql('r2', 'w2', 'w1', 'b2')}"""


def _bpe_apply_step_sql(rname: str, wname: str, src: str, best: str) -> str:
    """One recursive repeated-first-merge application of ``best``'s
    (l, r) pair to the word table ``src`` → terminal states in
    ``wname`` (the `_bpe_two_merge_words_sql` block, parametrized for
    reuse by the fertility-drift oracle). An empty ``best`` passes every
    word through via the LEFT JOIN fixed point."""
    return f"""{rname} AS (
      SELECT word, sym, wc FROM {src}
      UNION ALL
      SELECT word, sym[:pos-1] || [l || r] || sym[pos+2:] AS sym, wc
      FROM (SELECT {rname}.word AS word, {rname}.sym AS sym,
              {rname}.wc AS wc, {best}.l AS l, {best}.r AS r,
              list_filter(range(1, len({rname}.sym)),
                          i -> {rname}.sym[i] = {best}.l
                               AND {rname}.sym[i+1] = {best}.r)[1] AS pos
            FROM {rname}, {best}) q
      WHERE pos IS NOT NULL),
    {wname} AS (SELECT word, sym, wc
      FROM (SELECT {rname}.word AS word, {rname}.sym AS sym,
              {rname}.wc AS wc,
              list_filter(range(1, len({rname}.sym)),
                          i -> {rname}.sym[i] = {best}.l
                               AND {rname}.sym[i+1] = {best}.r)[1] AS pos
            FROM {rname} LEFT JOIN {best} ON TRUE) q
      WHERE pos IS NULL)"""


def _bpe_fertility_src_sql(parity: int) -> str:
    """FROM-able subquery: per-doc token/BPE-token/compression features
    for one corpus side, under the 2-merge table fit on the REF side
    only (the tokenizer-rot scenario)."""
    return f"""(WITH RECURSIVE
    toks AS (
      SELECT doc_id, word FROM (
        SELECT doc_id,
          unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents) t
      WHERE word <> ''),
    wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM toks
           WHERE doc_id % 2 = 0 GROUP BY 1),
    w0f AS (SELECT word, string_split(word, '') AS sym, wc FROM wf),
    {_bpe_pairs_sql('p1f', 'w0f')},
    b1 AS (SELECT l, r, c FROM p1f WHERE c >= 2
           ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    {_bpe_apply_step_sql('r1f', 'w1f', 'w0f', 'b1')},
    {_bpe_pairs_sql('p2f', 'w1f')},
    b2 AS (SELECT l, r, c FROM p2f WHERE c >= 2
           ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    w0a AS (SELECT word, string_split(word, '') AS sym,
              CAST(1 AS BIGINT) AS wc
            FROM (SELECT DISTINCT word FROM toks
                  WHERE doc_id % 2 = {parity})),
    {_bpe_apply_step_sql('r1a', 'w1a', 'w0a', 'b1')},
    {_bpe_apply_step_sql('r2a', 'w2a', 'w1a', 'b2')},
    seg AS (SELECT word, CAST(length(word) AS BIGINT) AS nc,
              CAST(len(sym) AS BIGINT) AS nb FROM w2a)
    SELECT t.doc_id,
      CAST(COUNT(*) AS DOUBLE) AS n_tokens,
      CAST(SUM(seg.nb) AS DOUBLE) AS n_bpe_tokens,
      CAST(SUM(seg.nc) AS DOUBLE) / SUM(seg.nb) AS compression
    FROM toks t JOIN seg USING (word)
    WHERE t.doc_id % 2 = {parity}
    GROUP BY t.doc_id)"""


def q_bpe_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer rot check: fit the 2-merge BPE table on the REF half of
    the corpus only, segment BOTH halves with it, and drift-score the
    per-doc token count / BPE token count / compression (fertility)
    features — the ablation a tokenizer owner runs when the corpus mix
    moves under a frozen vocabulary. Composes the oracled trainer
    (fit_bpe), applier (bpe_segment) and the weighted numeric-drift
    scorer."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        bpe_segment,
        fit_bpe,
    )
    from pyspark_data_drift_detector_spark.operators.numeric_drift import (
        numeric_drift_pair,
    )

    docs = _documents(spark, sf_dir)
    ref = docs.filter("doc_id % 2 = 0")
    curr = docs.filter("doc_id % 2 = 1")
    # driver fit mode: merge-for-merge identical below the vocab cap
    # (fit_bpe contract, re-verified by the oracle) with one collect
    # instead of a per-merge job loop
    merges = fit_bpe(ref, n_merges=2, fit_mode="driver")

    def feats(side: DataFrame) -> DataFrame:
        # persisted: the drift scorer's moments aggregate AND its exact-
        # quantile gather each traverse the input, and the BPE merge-fold
        # segmentation is the query's dominant per-pass cost (~2.5s/side
        # at sf0.1) — cache the three tiny derived doubles per doc
        # instead of segmenting twice
        return bpe_segment(side, merges).selectExpr(
            "CAST(n_tokens AS DOUBLE) AS n_tokens",
            "CAST(n_bpe_tokens AS DOUBLE) AS n_bpe_tokens",
            "compression",
        ).persist()

    drift = numeric_drift_pair(
        feats(ref), feats(curr),
        columns=["n_tokens", "n_bpe_tokens", "compression"],
        quantiles=(0.25, 0.5, 0.75),
    )
    rounded = [
        "mean_relative_diff", "median_relative_diff",
        "std_dev_relative_diff", "iqr_relative_diff",
        "range_relative_diff", "null_diff", "drift_score",
    ]
    return _round_cols(
        drift.select("column_name", *rounded, "drift_detected"), rounded
    )


def _bpe_fertility_drift_sql() -> str:
    cols = ["n_tokens", "n_bpe_tokens", "compression"]
    return _numeric_drift_body_sql(
        _profile_cte("ref", "TRUE", cols=cols,
                     src=_bpe_fertility_src_sql(0)),
        _profile_cte("curr", "TRUE", cols=cols,
                     src=_bpe_fertility_src_sql(1)),
    )


def _bpe_segment_sql() -> str:
    return f"""
    {_bpe_two_merge_words_sql()},
    vocab AS (SELECT word, CAST(length(word) AS BIGINT) AS nc,
                CAST(len(sym) AS BIGINT) AS nb
              FROM w2)
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(SUM(v.nc) AS BIGINT) AS n_chars,
      CAST(SUM(v.nb) AS BIGINT) AS n_bpe_tokens,
      ROUND(CAST(SUM(v.nc) AS DOUBLE) / SUM(v.nb), {ROUND}) AS compression
    FROM toks t JOIN vocab v USING (word)
    GROUP BY t.doc_id"""


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer's vocabulary after 2 merges: top-30 symbols
    by corpus occurrence (weighted by word frequency) with
    distinct-word coverage and a merged-symbol flag; count-desc /
    symbol-asc heap ordering, never a global sort."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        bpe_vocab,
        fit_bpe,
    )

    docs = _documents(spark, sf_dir)
    return bpe_vocab(docs, fit_bpe(docs, n_merges=2), top_k=30)


def _bpe_vocab_sql(top_k: int = 30) -> str:
    return f"""
    {_bpe_two_merge_words_sql()}
    SELECT symbol, token_count, n_words, length(symbol) > 1 AS is_merged
    FROM (
      SELECT symbol, CAST(SUM(wc) AS BIGINT) AS token_count,
        CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
      FROM (SELECT word, unnest(sym) AS symbol, wc FROM w2) u
      GROUP BY symbol) g
    ORDER BY token_count DESC, symbol ASC LIMIT {top_k}"""


def _fit_bpe_sql() -> str:
    """Three unrolled merges. Each best-pair CTE carries
    ``WHERE c >= 2`` to mirror fit_bpe's ``min_pair_count`` early stop:
    best counts are non-increasing (a post-merge pair either existed
    before with the same or a lower count, or contains the fused symbol
    and is bounded by the fused pair's count), so filtering ``b_i``
    implies every later ``b_j`` filters too — the unroll truncates at
    exactly the step the Spark loop breaks. The fixed-point CTEs use
    LEFT JOIN ON TRUE so an EMPTY best-pair CTE passes words through
    unchanged instead of wiping the table."""
    return f"""
    WITH RECURSIVE
    w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
            FROM documents) t
          WHERE word <> '' GROUP BY 1),
    w0 AS (SELECT string_split(word, '') AS sym, wc FROM w),
    {_bpe_pairs_sql('p1', 'w0')},
    b1 AS (SELECT l, r, c FROM p1 WHERE c >= 2 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    {_bpe_rec_sql('w0', 'b1', 'r1')},
    {_bpe_fixed_sql('w1', 'r1', 'b1')},
    {_bpe_pairs_sql('p2', 'w1')},
    b2 AS (SELECT l, r, c FROM p2 WHERE c >= 2 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    {_bpe_rec_sql('w1', 'b2', 'r2')},
    {_bpe_fixed_sql('w2', 'r2', 'b2')},
    {_bpe_pairs_sql('p3', 'w2')},
    b3 AS (SELECT l, r, c FROM p3 WHERE c >= 2 ORDER BY c DESC, l ASC, r ASC LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS merge_rank, l AS pair_left, r AS pair_right,
      l||r AS merged, c AS pair_count FROM b1
    UNION ALL
    SELECT CAST(2 AS BIGINT), l, r, l||r, c FROM b2
    UNION ALL
    SELECT CAST(3 AS BIGINT), l, r, l||r, c FROM b3"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf's-law fit: OLS of log(freq) ~ log(rank) over the
    top token types — slope far from −1 / poor r² flags synthetic or
    templated corpora (the harness documents fit badly by construction)."""
    from pyspark_data_drift_detector_spark.operators.corpus import zipf_fit

    out = zipf_fit(_documents(spark, sf_dir))
    return _round_cols(out, ["zipf_slope", "zipf_intercept", "zipf_r2"])


def _zipf_fit_sql() -> str:
    return f"""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    v AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM v),
    top AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
            FROM v ORDER BY cnt DESC, token ASC LIMIT 1000),
    fit AS (SELECT CAST(COUNT(*) AS BIGINT) AS fitted_types,
              regr_slope(LN(cnt), LN(rank)) AS zipf_slope,
              regr_intercept(LN(cnt), LN(rank)) AS zipf_intercept,
              regr_r2(LN(cnt), LN(rank)) AS zipf_r2
            FROM top)
    SELECT n_types, n_tokens, fitted_types,
      ROUND(zipf_slope, {ROUND}) AS zipf_slope,
      ROUND(zipf_intercept, {ROUND}) AS zipf_intercept,
      ROUND(zipf_r2, {ROUND}) AS zipf_r2
    FROM tot CROSS JOIN fit"""


def _stratified_sample_sql() -> str:
    return f"""
    WITH c AS (SELECT lang, COUNT(*) AS stratum_count FROM documents GROUP BY 1),
    r AS (SELECT lang, stratum_count, LEAST(1.0, 30.0/stratum_count) AS rate FROM c),
    u AS (SELECT doc_id, lang, {_md5_u_sql("strat")} AS uu FROM documents)
    SELECT u.doc_id, u.lang, CAST(r.stratum_count AS BIGINT) AS stratum_count,
           ROUND(r.rate,{ROUND}) AS sample_rate
    FROM u JOIN r USING (lang) WHERE u.uu < FLOOR(r.rate*1000000)"""


def _hash_split_sql() -> str:
    cut_train = int(0.8 * 1_000_000)
    cut_val = int((0.8 + 0.1) * 1_000_000)
    return f"""
    WITH u AS (SELECT doc_id, {_md5_u_sql("split")} AS uu FROM documents)
    SELECT doc_id, CASE WHEN uu < {cut_train} THEN 'train'
                        WHEN uu < {cut_val} THEN 'val'
                        ELSE 'test' END AS split
    FROM u"""


def _oracle_queries() -> dict[str, str]:
    numeric_profile_sql = " UNION ALL ".join(
        _profile_sql_one(c, "lineitem") for c in LINEITEM_NUMERIC
    )
    entropy_sql = f"""
    SELECT column_name,
           ROUND(-SUM(freq * LOG2(freq)), {ROUND}) AS entropy
    FROM ({_freq_sql(LINEITEM_CATEGORICAL, 'lineitem')}) GROUP BY column_name"""
    freq_sql = f"""
    SELECT column_name, value, cnt, ROUND(freq, {ROUND}) AS freq
    FROM ({_freq_sql(LINEITEM_CATEGORICAL, 'lineitem')})"""
    group_profile_sql = f"""
    SELECT o_orderpriority AS dimension_value,
      CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(AVG(o_totalprice), {ROUND}) AS mean_totalprice,
      ROUND(STDDEV_SAMP(o_totalprice), {ROUND}) AS std_totalprice,
      ROUND(MIN(o_totalprice), {ROUND}) AS min_totalprice,
      ROUND(MAX(o_totalprice), {ROUND}) AS max_totalprice
    FROM orders GROUP BY o_orderpriority"""
    top_categories_sql = f"""
    WITH freq AS (
      SELECT column_name, value, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(COUNT(*) AS DOUBLE)/SUM(COUNT(*)) OVER (PARTITION BY column_name) AS freq
      FROM ({_melt_sql(['o_orderstatus', 'o_orderpriority'], 'orders')})
      GROUP BY column_name, value
    )
    SELECT column_name, value, cnt, ROUND(freq, {ROUND}) AS freq FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY cnt DESC, value ASC) AS rn
      FROM freq
    ) WHERE rn <= 3"""
    out = {
        "numeric_profile": numeric_profile_sql,
        "numeric_drift": _numeric_drift_sql(),
        "numeric_drift_rowpath": _numeric_drift_rowpath_sql(),
        "js_full_support": _js_full_support_sql(),
        "complex_profile": _complex_profile_sql(),
        "categorical_drift_exact": _categorical_exact_p_sql(),
        "freq_table": freq_sql,
        "categorical_drift": _categorical_drift_sql(),
        "entropy": entropy_sql,
        "psi": _psi_sql(),
        "categorical_distances": _categorical_distances_sql(),
        "psi_numeric": _psi_numeric_sql(),
        "ks_wasserstein": _ks_wasserstein_sql(),
        "group_profile": group_profile_sql,
        "top_categories": top_categories_sql,
        "quantile_shift": _quantile_shift_sql(),
        "dist_shape": _shape_sql(),
        "histogram": _histogram_sql(),
        "rare_categories": _rare_categories_sql(),
        "rare_values": _rare_values_sql(),
        "outlier_drift": _outlier_sql(),
        "group_numeric_drift": _group_numeric_sql(),
        "group_drift": _group_drift_sql(),
        "corr_pairs": _corr_pairs_sql(),
        "feature_importance": _feature_importance_sql(),
        "text_stats": _text_stats_sql(),
        "lang_id": _lang_id_sql(),
        "doc_fingerprint": _fingerprint_sql(),
        "dedup_exact": _dedup_exact_sql(),
        "dedup_jaccard": _jaccard_sql(),
        "dedup_minhash_lsh": _minhash_lsh_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "temporal_drift": _temporal_drift_sql(),
        "embedding_drift": _embedding_drift_sql(),
        "text_quality_drift": _text_quality_drift_sql(),
        "dedup_survivors": _dedup_survivors_sql(),
        "streaming_drift_alerts": _streaming_drift_alerts_sql(),
        "dedup_simhash": _simhash_sql(),
        "knn_cosine": _knn_sql(),
        "ann_lsh": _ann_lsh_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "embedding_neardup": _embedding_neardup_sql(),
        "embedding_neardup_lsh": _embedding_neardup_lsh_sql(),
        "events_windowed": _events_windowed_sql(),
        "running_profile": _running_profile_sql(),
        "events_sliding": _events_sliding_sql(),
        "type_inference": _type_inference_sql(),
        "adaptive_thresholds": _adaptive_thresholds_sql(),
        "drift_severity": _severity_sql(),
        "schema_drift": _schema_drift_sql(),
        "corr_groups": _corr_groups_sql(),
        "multimodal_meta": _multimodal_meta_sql(),
        "image_features": _image_features_sql(),
        "image_decode": _image_decode_sql(),
        "quality_classifier": _quality_classifier_sql(),
        "corpus_report_incremental": _corpus_report_incremental_sql(),
        "kmeans_fit": _kmeans_fit_sql(),
        "fit_quality_classifier": _fit_quality_classifier_sql(),
        "corpus_clean_funnel": _corpus_clean_funnel_sql(),
        "classifier_sweep": _classifier_sweep_sql(),
        "embedding_report": _embedding_report_sql(),
        "embedding_incremental": _embedding_incremental_sql(),
        "funnel": _funnel_sql(),
        "cluster_silhouette": _cluster_silhouette_sql(),
        "retention_cohorts": _retention_cohorts_sql(),
        "group_keywords": _group_keywords_sql(),
        "mix_sample_tokens": _mix_sample_tokens_sql(),
        "event_paths": _event_paths_sql(),
        "transition_incremental": _transition_incremental_sql(),
        "transition_drift": _transition_drift_sql(),
        "snapshot_diff": _snapshot_diff_sql(),
        "fit_bpe": _fit_bpe_sql(),
        "fit_bpe_driver": _fit_bpe_sql(),
        "alignment_drift": _alignment_drift_sql(),
        "ann_incremental": _ann_incremental_sql(),
        "alignment_incremental": _alignment_incremental_sql(),
        "image_neardup": _image_neardup_sql(),
        "image_incremental": _image_incremental_sql(),
        "alignment_grouped": _alignment_grouped_sql(),
        "audio_features": _audio_feats_sql(),
        "audio_feature_drift": _audio_feature_drift_sql(),
        "audio_neardup": _audio_neardup_sql(),
        "video_features": _video_features_sql(),
        "video_feature_drift": _video_feature_drift_sql(),
        "multimodal_report": _multimodal_report_sql(),
        "multimodal_incremental": _multimodal_incremental_sql(),
        "audio_incremental": _audio_incremental_sql(),
        "image_clusters": _image_clusters_sql(),
        "video_neardup": _video_neardup_sql(),
        "video_incremental": _video_incremental_sql(),
        "jpeg_decode": _jpeg_decode_sql(),
        "png_decode": _png_decode_sql(),
        "gif_decode": _png_decode_sql(fmt="gif"),
        "tiff_decode": _png_decode_sql(fmt="tiff"),
        "wav_formats": _wav_formats_sql(),
        "mjpeg_decode": _mjpeg_decode_sql(),
        "record_linkage": _record_linkage_sql(),
        "linkage_tokens": _linkage_tokens_sql(),
        "linkage_incremental": _linkage_incremental_sql(),
        "survival_curve": _survival_curve_sql(),
        "survival_grouped": _survival_grouped_sql(),
        "survival_report": _survival_report_sql(),
        "ohlc_downsample": _ohlc_downsample_sql(),
        "audio_segments": _audio_segments_sql(),
        "survival_incremental": _survival_incremental_sql(),
        "ohlc_rollup": _ohlc_rollup_sql(),
        "pagerank": _pagerank_sql(),
        "scd2_apply": _scd2_apply_sql(),
        "scd2_lookup": _scd2_lookup_sql(),
        "scd2_report": _scd2_report_sql(),
        "graph_components": _graph_components_sql(),
        "components_incremental": _components_incremental_sql(),
        "graph_triangles": _graph_triangles_sql(),
        "blocking_report": _blocking_report_sql(),
        "dp_release": _dp_release_sql(),
        "linkage_report": _linkage_report_sql(),
        "graph_report": _graph_report_sql(),
        "bucket_gaps": _bucket_gaps_sql(),
        "scd2_validate": _scd2_validate_sql(),
        "bpe_segment": _bpe_segment_sql(),
        "bpe_segment_arrow": _bpe_segment_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "training_mix_report": _training_mix_report_sql(),
        "image_feature_drift": _image_feature_drift_sql(),
        "dedup_containment": _dedup_containment_sql(),
        "funnel_latency": _funnel_latency_sql(),
        "semantic_dedup_kmeans": _semantic_dedup_kmeans_sql(),
        "bpe_fertility_drift": _bpe_fertility_drift_sql(),
        "mix_sample_epochs": _mix_sample_epochs_sql(),
        "dedup_report": _dedup_report_sql(),
        "rollup_consistency": _rollup_consistency_sql(),
        "format_profile": _format_profile_sql(),
        "cluster_label_purity": _cluster_label_purity_sql(),
        "format_incremental": _format_incremental_sql(),
        "rollup_mismatch_topk": _rollup_mismatch_topk_sql(),
        "funnel_windowed": _funnel_sql(max_lag_seconds=172_800),
        "watermark_planner": _watermark_planner_sql(),
        "doc_novelty": _doc_novelty_sql(),
        "embedding_constraints": _embedding_constraints_sql(),
        "corpus_funnel_grouped": _corpus_funnel_grouped_sql(),
        "pack_documents_grouped": _pack_documents_grouped_sql(),
        "bpe_vocab": _bpe_vocab_sql(),
        "mix_sample": _mix_sample_sql(),
        "t_closeness": _t_closeness_sql(),
        "k_anonymity": _k_anonymity_sql(),
        "l_diversity": _l_diversity_sql(),
        "embedding_report_incremental": _embedding_report_incremental_sql(),
        "frame_sample": _frame_sample_sql(),
        "pca_anomaly": _pca_anomaly_sql(),
        "repetition_stats": _repetition_stats_sql(),
        "boilerplate_ngrams": _boilerplate_ngrams_sql(),
        "decontaminate": _decontaminate_sql(),
        "bloom_decontaminate": _decontaminate_sql(),
        "ngram_overlap": _ngram_overlap_sql(),
        "functional_dependencies": _functional_dependencies_sql(),
        "benford_deviation": _benford_deviation_sql(),
        "completeness_timeseries": _completeness_timeseries_sql(),
        "dedup_fuzzy": _dedup_fuzzy_sql(),
        "cube_profile": _cube_profile_sql(),
        "ewma_chart": _ewma_chart_sql(),
        "chi2_cells": _chi2_cells_sql(),
        "seasonality_drift": _seasonality_drift_sql(),
        "dedup_savings": _dedup_savings_sql(),
        "events_report": _events_report_sql(),
        "seasonality_incremental": _seasonality_drift_sql(
            side_expr="CASE WHEN e.event_id % 3 = 0 THEN 1 ELSE 0 END"
        ),
        "transition_stationary": _transition_stationary_sql(),
        "touch_attribution": _touch_attribution_sql(),
        "events_report_incremental": _events_report_incremental_sql(),
        "psi_cells": _psi_cells_sql(),
        "ewma_grouped": _ewma_grouped_sql(),
        "fuzzy_incremental": _fuzzy_incremental_sql(),
        "pack_documents": _pack_documents_sql(),
        "packing_stats": _packing_stats_sql(),
        "semantic_decontaminate": _semantic_decontaminate_sql(),
        "cluster_balance": _cluster_balance_sql(),
        "dedup_incremental": _dedup_incremental_sql(),
        "token_budget_sample": _token_budget_sample_sql(),
        "key_overlap": _key_overlap_sql(),
        "pca_contributions": _pca_contributions_sql(),
        "join_explosion": _join_explosion_sql(),
        "seasonal_anomalies": _seasonal_anomalies_sql(),
        "rollup_timeseries": _rollup_timeseries_sql(),
        "key_skew_profile": _key_skew_profile_sql(),
        "equidepth_histogram": _equidepth_histogram_sql(),
        "robust_profile": _robust_profile_sql(),
        # counts mode computes the same exact values from value histograms
        # — the scale path shares the exact oracle verbatim
        "robust_profile_counts": _robust_profile_sql(),
        "equidepth_histogram_counts": _equidepth_histogram_sql(),
        "mutual_information_drift": _mutual_information_drift_sql(),
        "dedup_normalized": _dedup_normalized_sql(),
        "bigram_logprob": _bigram_logprob_sql(),
        "c4_line_filter": _c4_line_filter_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "hash_split": _hash_split_sql(),
        "windowed_drift": _windowed_drift_sql(),
        "sessionize": _sessionize_sql(),
        "asof_join": _asof_join_sql(),
        "merged_distinct": _merged_distinct_sql(),
        "merged_heavy_hitters": _merged_heavy_hitters_sql(),
        "windowed_heavy_hitters": _windowed_heavy_hitters_sql(),
        "constraint_suite": _constraint_suite_sql(),
        "windowed_distinct": _windowed_distinct_sql(),
        "uniform_sample": _uniform_sample_sql(),
        "merged_quantiles": _merged_quantiles_sql(),
        "interval_join": _interval_join_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "cusum_changepoint": _cusum_changepoint_sql(),
        "mmd_drift": _mmd_drift_sql(),
        "dedup_survivors_best": _dedup_survivors_best_sql(),
        "quality_filter": _quality_filter_sql(),
        "chunk_documents": _chunk_documents_sql(),
        "weighted_sample": _weighted_sample_sql(),
        "merged_profile": _merged_profile_sql(),
        "merged_drift": _merged_drift_sql(),
        "merged_drift_quantiles": _merged_drift_quantiles_sql(),
        "merged_group_drift": _merged_group_drift_sql(),
        "session_drift": _session_drift_sql(),
        "merged_categorical_drift": _merged_categorical_drift_sql(),
        "incremental_pipeline": _incremental_pipeline_sql(),
        "robust_outlier_drift": _robust_outlier_drift_sql(),
        "cap_per_group": _cap_per_group_sql(),
        "temperature_sample": _temperature_sample_sql(),
        "zipf_fit": _zipf_fit_sql(),
        "json_profile": _json_profile_sql(),
        "json_drift": _json_drift_sql(),
        "unigram_logprob": _unigram_logprob_sql(),
        "tfidf_keywords": _tfidf_keywords_sql(),
        "vocab_drift": _vocab_drift_sql(),
        "passage_dedup": _passage_dedup_sql(),
        "semantic_decontaminate_lsh": _semantic_decontaminate_lsh_sql(),
        "passage_incremental": _passage_incremental_sql(),
        "neardup_incremental": _neardup_incremental_sql(),
        "logprob_incremental": _logprob_incremental_sql(),
        "passage_pairs": _passage_pairs_sql(),
        "passage_excise": _passage_excise_sql(),
        "passage_excise_keep_one": _passage_excise_sql(keep_one=True),
        "passage_decontaminate": _passage_decontaminate_sql(),
        "token_share_drift": _token_share_drift_sql(),
        "corpus_report": _corpus_report_sql(),
        "token_share_incremental": _token_share_incremental_sql(),
        "cluster_balance_incremental": _cluster_balance_incremental_sql(),
    }
    # _ann_pq_sql reads a parquet sample and runs a numpy k-means fit as a
    # side effect of STRING construction — if the sample path is missing
    # or unreadable that must degrade ann_pq to the rows-only check, not
    # break oracle construction for every other query
    try:
        out["ann_pq"] = _ann_pq_sql()
    except (FileNotFoundError, OSError) as exc:
        # only a missing/unreadable sample degrades ann_pq to rows-only;
        # anything else (numpy regression, schema change) must surface
        import sys

        print(f"WARNING: ann_pq oracle degraded to rows-only: {exc!r}",
              file=sys.stderr)
    return out


def q_semantic_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefiltered decontamination (scale path for eval sets beyond
    max_benchmark_cells): banded sign-bit signatures on both sides, band
    collisions exact-rescored, per-corpus-row max/argmax in one groupBy;
    misses report contaminated=false with NULL cosine."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        semantic_decontaminate_lsh,
    )

    emb = _embeddings(spark, sf_dir)
    out = semantic_decontaminate_lsh(
        emb,
        emb.filter(F.col("vec_id") % 50 == 0),
        threshold=0.9,
        dim=64,
        n_planes=16,
        bands=8,
    )
    return _round_cols(out, ["max_cosine"])


def _semantic_decontaminate_lsh_sql() -> str:
    """SQL replay of semantic_decontaminate_lsh(dim=64, n_planes=16,
    bands=8, threshold=0.9): same seeded hyperplanes / 2-bit band keys as
    _ann_lsh_sql, max/argmax per corpus row (ties → smallest eval id),
    LEFT JOIN back so misses stay false and invalid vectors NULL."""
    from pyspark_data_drift_detector_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 16, seed=42)
    bit_exprs = ",\n        ".join(
        "CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(x) for x in plane)
        + "]) > 0 THEN 1 ELSE 0 END"
        for plane in planes
    )
    invalid = (
        "(v.e IS NULL OR len(v.e) != 64"
        " OR len(list_filter(v.e, x -> x IS NULL)) > 0)"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    -- only VALID vectors get signatures: Spark's _signature_expr gives a
    -- NULL signature (no band bucket) to NULL / ragged / NULL-element
    -- vectors, and DuckDB's list_dot_product would error on ragged rows
    sigs AS (
      SELECT vec_id, e, [
        {bit_exprs}
      ] AS bits FROM v
      WHERE NOT {invalid}),
    banded AS (
      SELECT vec_id, b.band,
        bits[2 * b.band + 1] + 2 * bits[2 * b.band + 2] AS key
      FROM sigs, (SELECT unnest(range(8)) AS band) b),
    cand AS (
      SELECT DISTINCT c.vec_id AS cid, q.vec_id AS bid
      FROM banded c JOIN banded q ON c.band = q.band AND c.key = q.key
      WHERE q.vec_id % 50 = 0),
    s AS (
      SELECT cand.cid, cand.bid,
        list_cosine_similarity(cv.e, qv.e) AS sim,
        ROW_NUMBER() OVER (PARTITION BY cand.cid
          ORDER BY list_cosine_similarity(cv.e, qv.e) DESC,
                   cand.bid ASC) AS rnk
      FROM cand
      JOIN v cv ON cv.vec_id = cand.cid
      JOIN v qv ON qv.vec_id = cand.bid),
    best AS (SELECT cid, bid, sim FROM s WHERE rnk = 1)
    SELECT v.vec_id,
      CASE WHEN {invalid} THEN NULL
           ELSE ROUND(best.sim, {ROUND}) END AS max_cosine,
      CASE WHEN {invalid} THEN NULL
           ELSE CAST(best.bid AS BIGINT) END AS nearest_eval_id,
      CASE WHEN {invalid} THEN NULL
           WHEN best.sim IS NOT NULL THEN best.sim >= 0.9
           ELSE false END AS contaminated
    FROM v LEFT JOIN best ON best.cid = v.vec_id"""


_PASSAGE_W = 8


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact-substring dedup: maximal spans of 8-token
    windows shared with other documents (suffix-array-style contamination
    finding, counts-on-hashes-first — VERDICT r8 gap #2)."""
    from pyspark_data_drift_detector_spark.operators.dedup import passage_duplicates

    out = passage_duplicates(_documents(spark, sf_dir), window=_PASSAGE_W)
    return out.selectExpr(
        "doc_id",
        "CAST(span_start AS BIGINT) AS span_start",
        "CAST(span_end AS BIGINT) AS span_end",
        "CAST(span_tokens AS BIGINT) AS span_tokens",
        "n_windows",
        "max_dup_docs",
    )


def _passage_idx_sql(w: int) -> str:
    """Shared CTE text: the token-window fingerprint index (md5_hash60 of
    the space-joined window, replaying operators/dedup.py:_window_index).
    Tokenization is the regex form (trim + split on whitespace RUNS) so it
    matches Spark's tokens_expr on any spacing, not just single-spaced
    testdata — the _neardup_incremental_sql / _minhash_lsh_sql
    convention."""
    return f"""
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM documents WHERE text IS NOT NULL),
    starts AS (
      SELECT doc_id, t,
        unnest(range(1, greatest(len(t) - {w} + 1, 0) + 1)) AS start
      FROM toks),
    idx AS (
      SELECT doc_id, start,
        ('0x' || substring(md5(array_to_string(t[start : start + {w} - 1],
          ' ')), 1, 15))::BIGINT AS whash
      FROM starts)"""


#: shared gaps-and-islands CTE text (replays dedup._merge_flagged_spans):
#: consumes a `flagged` CTE with (doc_id, start, e, …extras riding along)
#: and yields `isl` with an island id per flagged window
_PASSAGE_ISLANDS_SQL = """
    prev AS (
      SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY start
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM flagged),
    isl AS (
      SELECT *, SUM(CASE WHEN prev_end IS NULL OR start > prev_end + 1
          THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY start
          ROWS UNBOUNDED PRECEDING) AS island
      FROM prev)"""

#: shared per-span aggregate column list (GROUP BY doc_id, island)
_PASSAGE_SPAN_COLS = """
      CAST(MIN(start) AS BIGINT) AS span_start,
      CAST(MAX(e) AS BIGINT) AS span_end,
      CAST(MAX(e) - MIN(start) + 1 AS BIGINT) AS span_tokens,
      CAST(COUNT(*) AS BIGINT) AS n_windows"""


def _passage_dedup_sql() -> str:
    w = _PASSAGE_W
    return f"""
    WITH {_passage_idx_sql(w)},
    counts AS (SELECT whash, COUNT(DISTINCT doc_id) AS n_docs
               FROM idx GROUP BY whash),
    flagged AS (
      SELECT i.doc_id, i.start, i.start + {w} - 1 AS e, c.n_docs
      FROM idx i JOIN counts c USING (whash) WHERE c.n_docs >= 2),
    {_PASSAGE_ISLANDS_SQL}
    SELECT doc_id, {_PASSAGE_SPAN_COLS},
      CAST(MAX(n_docs) AS BIGINT) AS max_dup_docs
    FROM isl GROUP BY doc_id, island"""


def q_passage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental passage dedup: the doc_id%3==0 ingest batch vetted
    against the compact passage-fingerprint state of the rest of the
    corpus — flagged spans + how many PRIOR docs share them (0 = only
    duplicated within the batch); never re-scans the prior corpus."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        passage_dedup_incremental,
        passage_state,
    )

    docs = _documents(spark, sf_dir)
    state = passage_state(docs.filter("doc_id % 3 != 0"), window=_PASSAGE_W)
    out = passage_dedup_incremental(
        docs.filter("doc_id % 3 = 0"), state, window=_PASSAGE_W
    )
    return out.selectExpr(
        "doc_id",
        "CAST(span_start AS BIGINT) AS span_start",
        "CAST(span_end AS BIGINT) AS span_end",
        "CAST(span_tokens AS BIGINT) AS span_tokens",
        "n_windows",
        "max_dup_docs",
        "prior_docs",
    )


def _passage_incremental_sql() -> str:
    w = _PASSAGE_W
    return f"""
    WITH {_passage_idx_sql(w)},
    counts AS (
      SELECT whash,
        COUNT(DISTINCT doc_id) AS total_docs,
        COUNT(DISTINCT doc_id) FILTER (doc_id % 3 != 0) AS prior_docs
      FROM idx GROUP BY whash),
    flagged AS (
      SELECT i.doc_id, i.start, i.start + {w} - 1 AS e,
        c.total_docs, c.prior_docs
      FROM idx i JOIN counts c USING (whash)
      WHERE i.doc_id % 3 = 0 AND c.total_docs >= 2),
    {_PASSAGE_ISLANDS_SQL}
    SELECT doc_id, {_PASSAGE_SPAN_COLS},
      CAST(MAX(total_docs) AS BIGINT) AS max_dup_docs,
      CAST(MAX(prior_docs) AS BIGINT) AS prior_docs
    FROM isl GROUP BY doc_id, island"""


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the doc_id%3==0 ingest batch vetted against
    the prior corpus's MinHash-signature state (md5 family so the oracle
    replays the banding + signature-estimated Jaccard exactly); prior
    text never re-read."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        minhash_signatures,
        neardup_incremental,
    )

    docs = _documents(spark, sf_dir)
    state = minhash_signatures(
        docs.filter("doc_id % 3 != 0"), hash_family="md5"
    )
    out = neardup_incremental(
        docs.filter("doc_id % 3 = 0"),
        state,
        threshold=0.3,
        hash_family="md5",
    )
    return _round_cols(out, ["est_jaccard"])


def _neardup_incremental_sql() -> str:
    """SQL replay of neardup_incremental(hash_family='md5', threshold=0.3):
    the _minhash_lsh_sql signature algebra, candidates = batch (doc%3==0)
    band-colliding with state (doc%3!=0) or an earlier batch doc, verified
    by the SIGNATURE-estimated Jaccard (fraction of agreeing components)."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        MERSENNE31,
        affine_params,
    )

    params = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)"
        for i, (a, b) in enumerate(affine_params(64))
    )
    p = MERSENNE31
    return f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
        unnest(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                              i -> array_to_string(t[i:i+2], ' '))) AS shingle
      FROM toks)),
    u AS (SELECT doc_id,
            ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {p} AS u
          FROM sh),
    params AS (SELECT * FROM (VALUES {params}) p(i, a, b)),
    sigs AS (SELECT doc_id, i, MIN((a * u + b) % {p}) AS h
             FROM u CROSS JOIN params GROUP BY 1, 2),
    bands AS (SELECT doc_id, i // 4 AS band, list(h ORDER BY i) AS key
              FROM sigs GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_id,
        CASE WHEN o.doc_id % 3 != 0 THEN 'state' ELSE 'batch' END AS dup_source
      FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
      WHERE n.doc_id % 3 = 0
        AND (o.doc_id % 3 != 0
             OR (o.doc_id % 3 = 0 AND o.doc_id < n.doc_id))),
    est AS (
      SELECT c.doc_id, c.dup_id, c.dup_source,
        SUM(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
      FROM cand c
      JOIN sigs a ON a.doc_id = c.doc_id
      JOIN sigs b ON b.doc_id = c.dup_id AND b.i = a.i
      GROUP BY 1, 2, 3)
    SELECT doc_id, dup_id, dup_source,
      ROUND(est_jaccard, {ROUND}) AS est_jaccard
    FROM est WHERE est_jaccard >= 0.3"""


def q_logprob_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LM quality gate: score the doc_id%3==0 ingest batch
    under the prior corpus's add-k-smoothed unigram model (its additive
    token-count state) — OOV-aware, corpus never re-read."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        logprob_incremental,
        unigram_state,
    )

    docs = _documents(spark, sf_dir)
    out = logprob_incremental(
        docs.filter("doc_id % 3 = 0"),
        unigram_state(docs.filter("doc_id % 3 != 0")),
        k=0.5,
    )
    return _round_cols(out, ["oov_rate", "avg_logprob", "perplexity"])


#: shared CTE text for the incremental LM replay (consumed by both the
#: per-doc query below and the composed incremental report, which needs
#: the UNROUNDED per-doc avg_logprob for its batch mean)
_LOGPROB_INCR_CORE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    model AS (
      SELECT token, COUNT(*) AS cnt FROM toks
      WHERE doc_id % 3 != 0 GROUP BY token),
    consts AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS v FROM model),
    scored AS (
      SELECT t.doc_id, m.cnt IS NULL AS is_oov,
        ln((COALESCE(m.cnt, 0) + 0.5) / (c.total + 0.5 * (c.v + 1))) AS lp
      FROM toks t LEFT JOIN model m USING (token) CROSS JOIN consts c
      WHERE t.doc_id % 3 = 0),
    agg AS (
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        AVG(lp) AS avg_logprob
      FROM scored GROUP BY doc_id)"""


def _logprob_incremental_sql() -> str:
    return f"""
    {_LOGPROB_INCR_CORE}
    SELECT doc_id, n_tokens, n_oov,
      ROUND(n_oov / n_tokens, {ROUND}) AS oov_rate,
      ROUND(avg_logprob, {ROUND}) AS avg_logprob,
      ROUND(exp(-avg_logprob), {ROUND}) AS perplexity
    FROM agg"""


def q_passage_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination: corpus spans whose 8-token
    windows appear anywhere in the doc_id%25==0 eval slice (the
    ngram_overlap benchmark convention) — localizes WHICH tokens leaked
    instead of flagging whole documents."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        passage_decontaminate,
    )

    docs = _documents(spark, sf_dir)
    out = passage_decontaminate(
        docs, docs.filter("doc_id % 25 = 0"), window=_PASSAGE_W
    )
    return out.selectExpr(
        "doc_id",
        "CAST(span_start AS BIGINT) AS span_start",
        "CAST(span_end AS BIGINT) AS span_end",
        "CAST(span_tokens AS BIGINT) AS span_tokens",
        "n_windows",
    )


def _passage_decontaminate_sql() -> str:
    w = _PASSAGE_W
    return f"""
    WITH {_passage_idx_sql(w)},
    bench AS (SELECT DISTINCT whash FROM idx WHERE doc_id % 25 = 0),
    flagged AS (
      SELECT i.doc_id, i.start, i.start + {w} - 1 AS e
      FROM idx i SEMI JOIN bench b ON i.whash = b.whash),
    {_PASSAGE_ISLANDS_SQL}
    SELECT doc_id, {_PASSAGE_SPAN_COLS}
    FROM isl GROUP BY doc_id, island"""


def q_token_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift by TOKEN share per source between the even/odd
    doc_id snapshots — pretraining mixes are specified in token mass, so
    this catches a source whose documents grew even when the document
    mix looks stable."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        token_share_drift,
    )

    docs = _documents(spark, sf_dir)
    out = token_share_drift(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"), "source"
    )
    return _round_cols(
        out, ["ref_share", "curr_share", "share_abs_diff"]
    )


def _token_share_drift_sql() -> str:
    return f"""
    WITH tagged AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'r' ELSE 'c' END AS side,
        source AS group_key,
        -- tokens_expr convention: trim + whitespace-run split, blank = 0
        CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
      FROM documents),
    counts AS (
      SELECT group_key,
        CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS ref_docs,
        CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS curr_docs,
        CAST(SUM(CASE WHEN side = 'r' THEN tok ELSE 0 END) AS BIGINT) AS ref_tokens,
        CAST(SUM(CASE WHEN side = 'c' THEN tok ELSE 0 END) AS BIGINT) AS curr_tokens
      FROM tagged GROUP BY group_key),
    shares AS (
      SELECT *,
        ref_tokens / NULLIF(SUM(ref_tokens) OVER (), 0) AS ref_share,
        curr_tokens / NULLIF(SUM(curr_tokens) OVER (), 0) AS curr_share
      FROM counts)
    SELECT group_key, ref_docs, curr_docs, ref_tokens, curr_tokens,
      ROUND(ref_share, {ROUND}) AS ref_share,
      ROUND(curr_share, {ROUND}) AS curr_share,
      ROUND(abs(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) AS share_abs_diff,
      ROUND(abs(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) > 0.05 AS drift_detected
    FROM shares"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-drift flagship: one long-format report (family, key,
    metric, ref/curr value, diff, flag) composing text-quality,
    vocabulary, and per-source token-share drift over the even/odd doc
    split — the document-side sibling of detect_drift."""
    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        corpus_drift_report,
    )

    docs = _documents(spark, sf_dir)
    return corpus_drift_report(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    )


def _corpus_report_sql() -> str:
    """UNION ALL over the member oracles (_text_quality_drift_sql /
    _vocab_drift_sql / _token_share_drift_sql), melted to the composite's
    long format; flags re-derived from the 5-dp-rounded diffs exactly as
    corpus_pipeline does."""
    relchange = (
        "CASE WHEN {a} != 0 THEN abs(({b} - {a}) / CAST({a} AS DOUBLE))"
        " WHEN {b} != 0 THEN 1.0 ELSE 0.0 END"
    )
    types_rc = relchange.format(a="ref_types", b="curr_types")
    tokens_rc = relchange.format(a="ref_tokens", b="curr_tokens")
    return f"""
    WITH tq AS ({_text_quality_drift_sql()}),
    vd AS ({_vocab_drift_sql()}),
    ts AS ({_token_share_drift_sql()})
    SELECT 'text_quality' AS family, '' AS key, 'mean_tokens' AS metric,
      ref_mean_tokens AS ref_value, curr_mean_tokens AS curr_value,
      token_shift AS diff, token_shift > 0.1 AS drift_detected FROM tq
    UNION ALL
    SELECT 'text_quality', '', 'mean_quality',
      ref_mean_quality, curr_mean_quality,
      quality_shift, quality_shift > 0.1 FROM tq
    UNION ALL
    SELECT 'text_quality', '', 'language_mix_js', NULL, NULL,
      lang_js, lang_js > 0.1 FROM tq
    UNION ALL
    SELECT 'vocabulary', '', 'types',
      CAST(ref_types AS DOUBLE), CAST(curr_types AS DOUBLE),
      ROUND({types_rc}, {ROUND}), ROUND({types_rc}, {ROUND}) > 0.1 FROM vd
    UNION ALL
    SELECT 'vocabulary', '', 'tokens',
      CAST(ref_tokens AS DOUBLE), CAST(curr_tokens AS DOUBLE),
      ROUND({tokens_rc}, {ROUND}), ROUND({tokens_rc}, {ROUND}) > 0.1 FROM vd
    UNION ALL
    SELECT 'vocabulary', '', 'new_types', NULL,
      CAST(new_types AS DOUBLE), CAST(new_types AS DOUBLE), false FROM vd
    UNION ALL
    SELECT 'vocabulary', '', 'lost_types', NULL,
      CAST(lost_types AS DOUBLE), CAST(lost_types AS DOUBLE), false FROM vd
    UNION ALL
    SELECT 'vocabulary', '', 'oov_token_rate', NULL, NULL,
      oov_token_rate, oov_token_rate > 0.05 FROM vd
    UNION ALL
    SELECT 'token_share',
      CASE WHEN group_key IS NULL THEN '<null>'
           ELSE CAST(group_key AS VARCHAR) END,
      'token_share', ref_share, curr_share,
      share_abs_diff, share_abs_diff > 0.05 FROM ts"""


def q_token_share_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus mix tripwire: the doc_id%3==0 ingest batch's token
    mix per source vetted against the rolled-up mix state of the rest of
    the corpus — the mix member of the vet-the-increment family."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        token_share_incremental,
        token_share_state,
    )

    docs = _documents(spark, sf_dir)
    out = token_share_incremental(
        docs.filter("doc_id % 3 = 0"),
        token_share_state(docs.filter("doc_id % 3 != 0")),
    )
    return _round_cols(out, ["ref_share", "curr_share", "share_abs_diff"])


def _token_share_incremental_sql() -> str:
    return f"""
    WITH tagged AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'c' ELSE 'r' END AS side,
        source AS group_key,
        CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
      FROM documents),
    counts AS (
      SELECT group_key,
        CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS ref_docs,
        CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS curr_docs,
        CAST(SUM(CASE WHEN side = 'r' THEN tok ELSE 0 END) AS BIGINT) AS ref_tokens,
        CAST(SUM(CASE WHEN side = 'c' THEN tok ELSE 0 END) AS BIGINT) AS curr_tokens
      FROM tagged GROUP BY group_key),
    shares AS (
      SELECT *,
        ref_tokens / NULLIF(SUM(ref_tokens) OVER (), 0) AS ref_share,
        curr_tokens / NULLIF(SUM(curr_tokens) OVER (), 0) AS curr_share
      FROM counts)
    SELECT group_key, ref_docs, curr_docs, ref_tokens, curr_tokens,
      ROUND(ref_share, {ROUND}) AS ref_share,
      ROUND(curr_share, {ROUND}) AS curr_share,
      ROUND(abs(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) AS share_abs_diff,
      ROUND(abs(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) > 0.05 AS drift_detected
    FROM shares"""


def q_corpus_report_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly ingest-vetting flagship: ONE long-format report for the
    doc_id%3==0 ingest batch composing all five vet-the-increment members
    (exact dedup, passage dedup, MinHash near-dup, LM quality, token-share
    mix) against their compact states — the prior corpus is never
    re-read. md5 hash families + _PASSAGE_W so every panel replays in
    DuckDB."""
    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        corpus_report_incremental,
    )
    from pyspark_data_drift_detector_spark.operators.corpus import (
        token_share_state,
        unigram_state,
    )
    from pyspark_data_drift_detector_spark.operators.dedup import (
        minhash_signatures,
        passage_state,
    )
    from pyspark_data_drift_detector_spark.operators.text import fingerprint

    docs = _documents(spark, sf_dir)
    prior = docs.filter("doc_id % 3 != 0")
    return corpus_report_incremental(
        docs.filter("doc_id % 3 = 0"),
        fingerprint_state=fingerprint(prior),
        passage_state=passage_state(prior, window=_PASSAGE_W),
        minhash_state=minhash_signatures(prior, hash_family="md5"),
        unigram_state=unigram_state(prior),
        token_share_state=token_share_state(prior),
        window=_PASSAGE_W,
        est_threshold=0.3,
        hash_family="md5",
    )


def _corpus_report_incremental_sql() -> str:
    """UNION ALL over the five incremental member oracles (each embedded
    as a nested-WITH subquery, %3 split), aggregated to the report's
    batch-level panels; flags re-derived from the 5-dp-rounded rates
    exactly as corpus_pipeline.corpus_report_incremental does."""
    ded = _dedup_incremental_sql("doc_id % 3 != 0", "doc_id % 3 = 0")
    return f"""
    WITH agg AS (
      SELECT
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents
         WHERE doc_id % 3 = 0) AS n,
        (SELECT AVG(CASE WHEN dup_of_state THEN 1.0 ELSE 0.0 END)
         FROM ({ded}) d) AS dup_state_rate,
        (SELECT AVG(CASE WHEN dup_in_batch THEN 1.0 ELSE 0.0 END)
         FROM ({ded}) d) AS dup_batch_rate,
        (SELECT AVG(CASE WHEN keep THEN 1.0 ELSE 0.0 END)
         FROM ({ded}) d) AS keep_rate,
        (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
         FROM ({_passage_incremental_sql()}) p) AS pas_docs,
        (SELECT CAST(COALESCE(SUM(span_tokens), 0) AS DOUBLE)
         FROM ({_passage_incremental_sql()}) p) AS pas_tokens,
        (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
         FROM ({_neardup_incremental_sql()}) q) AS near_docs,
        (SELECT CAST(COUNT(*) AS DOUBLE)
         FROM ({_neardup_incremental_sql()}) q) AS near_pairs,
        (SELECT CAST(SUM(n_oov) AS DOUBLE) / SUM(n_tokens)
         FROM ({_LOGPROB_INCR_CORE} SELECT * FROM agg) l) AS oov_rate,
        (SELECT AVG(avg_logprob)
         FROM ({_LOGPROB_INCR_CORE} SELECT * FROM agg) l) AS mean_lp),
    ts AS ({_token_share_incremental_sql()})
    SELECT 'exact_dedup' AS family, '' AS key,
      'dup_of_state_rate' AS metric,
      CAST(NULL AS DOUBLE) AS ref_value,
      ROUND(dup_state_rate, {ROUND}) AS curr_value,
      ROUND(dup_state_rate, {ROUND}) AS diff,
      ROUND(dup_state_rate, {ROUND}) > 0.2 AS drift_detected FROM agg
    UNION ALL
    SELECT 'exact_dedup', '', 'dup_in_batch_rate', NULL,
      ROUND(dup_batch_rate, {ROUND}), ROUND(dup_batch_rate, {ROUND}),
      ROUND(dup_batch_rate, {ROUND}) > 0.2 FROM agg
    UNION ALL
    SELECT 'exact_dedup', '', 'keep_rate', NULL,
      ROUND(keep_rate, {ROUND}), NULL, false FROM agg
    UNION ALL
    SELECT 'passage', '', 'dup_passage_doc_rate', NULL,
      ROUND(pas_docs / NULLIF(n, 0), {ROUND}),
      ROUND(pas_docs / NULLIF(n, 0), {ROUND}),
      ROUND(pas_docs / NULLIF(n, 0), {ROUND}) > 0.2 FROM agg
    UNION ALL
    SELECT 'passage', '', 'dup_span_tokens', NULL,
      pas_tokens, NULL, false FROM agg
    UNION ALL
    SELECT 'neardup', '', 'neardup_doc_rate', NULL,
      ROUND(near_docs / NULLIF(n, 0), {ROUND}),
      ROUND(near_docs / NULLIF(n, 0), {ROUND}),
      ROUND(near_docs / NULLIF(n, 0), {ROUND}) > 0.2 FROM agg
    UNION ALL
    SELECT 'neardup', '', 'neardup_pairs', NULL,
      near_pairs, NULL, false FROM agg
    UNION ALL
    SELECT 'lm_quality', '', 'oov_token_rate', NULL,
      ROUND(oov_rate, {ROUND}), ROUND(oov_rate, {ROUND}),
      ROUND(oov_rate, {ROUND}) > 0.3 FROM agg
    UNION ALL
    SELECT 'lm_quality', '', 'mean_doc_logprob', NULL,
      ROUND(mean_lp, {ROUND}), NULL, false FROM agg
    UNION ALL
    SELECT 'token_share',
      CASE WHEN group_key IS NULL THEN '<null>'
           ELSE CAST(group_key AS VARCHAR) END,
      'token_share', ref_share, curr_share, share_abs_diff,
      drift_detected FROM ts"""


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means fit (Lloyd, 2 iterations, k=4,
    first-k-by-id init): the operator that produces the centroids the
    whole topic-mix family consumes. Long-format output (cluster_id, pos,
    centroid component, member count under the final centroids); the
    oracle unrolls both Lloyd iterations in SQL."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        kmeans_fit_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kmeans_fit_report(emb, k=4, iters=2, scoring="expr")
    return _round_cols(out, ["centroid"])


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embeddings against the
    frozen first-8-by-id centroid set (the ``cluster_balance_incremental``
    convention — deterministic, no Lloyd unroll needed), then drop any
    vector whose cluster has a FARTHER-from-centroid member within
    cosine 0.4 (the synthetic corpus's non-vacuous threshold — see
    ``q_embedding_neardup``; 19 of 500 vectors fall at sf0.01). The
    oracle replays assignment (row_number max-cosine), the
    (centroid_cosine, id) keep order, and the greedy earlier-member
    predicate in plain SQL."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _embeddings(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    out = semantic_dedup(emb, cents, threshold=0.4, scoring="expr")
    return _round_cols(out, ["centroid_cosine"])


def _semantic_dedup_sql(
    threshold: float = 0.4, k: int = 8, dim: int = 64
) -> str:
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
      FROM embeddings ORDER BY vec_id ASC LIMIT {k}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = {dim}
            AND len(list_filter(embedding, x -> x IS NULL)) = 0
            AND list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[]) > 0),
    assign AS (
      SELECT vec_id, e, cid, cos FROM (
        SELECT v.vec_id, v.e, cent.cid,
          list_cosine_similarity(v.e, cent.ce) AS cos,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY list_cosine_similarity(v.e, cent.ce) DESC,
                     cent.cid ASC) AS rn
        FROM v CROSS JOIN cent) WHERE rn = 1),
    n AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_n
          FROM assign GROUP BY cid),
    dups AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid
       AND (b.cos < a.cos OR (b.cos = a.cos AND b.vec_id < a.vec_id))
       AND list_cosine_similarity(a.e, b.e) >= {threshold})
    SELECT a.vec_id, a.cid AS cluster_id,
      ROUND(a.cos, {ROUND}) AS centroid_cosine,
      n.cluster_n, d.vec_id IS NULL AS is_kept
    FROM assign a JOIN n USING (cid)
    LEFT JOIN dups d ON d.vec_id = a.vec_id
    {_semantic_dedup_invalid_branch_sql()}"""


_KM_ASSIGN = (
    "SELECT vec_id, cid FROM ("
    "  SELECT vec_id, cid,"
    "    row_number() OVER (PARTITION BY vec_id"
    "      ORDER BY cos DESC, cid ASC) AS rn"
    "  FROM {d}) WHERE rn = 1"
)


def _km_cos_sql(dim: int) -> str:
    return f"""
    list_sum(list_transform(range(1, {dim + 1}), i -> v.e[i] * c.e[i]))
      / (sqrt(list_sum(list_transform(v.e, x -> x * x)))
         * sqrt(list_sum(list_transform(c.e, x -> x * x))))"""


def _kmeans_c2_ctes_sql(k: int = 4, dim: int = 64) -> str:
    """WITH-body CTEs replaying a 2-iteration Lloyd fit up to the final
    centroid table ``c2(cid, e)`` (valid vectors in ``v``) — shared by
    the kmeans_fit oracle and the semantic_dedup_kmeans oracle."""
    assign = _KM_ASSIGN
    cos = _km_cos_sql(dim)

    def it(n: int, prev: str) -> str:
        return f"""
    d{n} AS (SELECT v.vec_id, c.cid, {cos} AS cos
             FROM v CROSS JOIN {prev} c),
    a{n} AS ({assign.format(d=f'd{n}')}),
    m{n} AS (SELECT a.cid, i.i AS pos, AVG(list_extract(v.e, i.i)) AS m
             FROM a{n} a JOIN v USING (vec_id)
             CROSS JOIN range(1, {dim + 1}) i(i)
             GROUP BY 1, 2),
    c{n}m AS (SELECT cid, list(m ORDER BY pos) AS e FROM m{n} GROUP BY cid),
    c{n} AS (SELECT p.cid, COALESCE(c{n}m.e, p.e) AS e
             FROM {prev} p LEFT JOIN c{n}m USING (cid))"""

    return f"""v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, e
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})),
    {it(1, 'c0')},
    {it(2, 'c1')}"""


def q_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SemDeDup recipe (Abbas et al. 2023) driver-gated
    end-to-end: FIT the clustering (2-iteration spherical Lloyd, k=4 —
    the kmeans_fit configuration) and dedup within the fitted clusters
    (q_semantic_dedup's greedy farthest-first policy, threshold 0.4).
    The oracle chains the unrolled Lloyd replay into the dedup
    replay."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        fit_kmeans,
        semantic_dedup,
    )

    emb = _embeddings(spark, sf_dir)
    cents = fit_kmeans(emb, k=4, iters=2, scoring="expr")
    out = semantic_dedup(emb, cents, threshold=0.4, scoring="expr")
    return _round_cols(out, ["centroid_cosine"])


def _semantic_dedup_kmeans_sql(
    threshold: float = 0.4, k: int = 4, dim: int = 64
) -> str:
    return f"""
    WITH {_kmeans_c2_ctes_sql(k, dim)},
    assign AS (
      SELECT vec_id, e, cid, cos FROM (
        SELECT v.vec_id, v.e, c.cid, {_km_cos_sql(dim)} AS cos,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY {_km_cos_sql(dim)} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN c2 c) WHERE rn = 1),
    n AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_n
          FROM assign GROUP BY cid),
    dups AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid
       AND (b.cos < a.cos OR (b.cos = a.cos AND b.vec_id < a.vec_id))
       AND list_cosine_similarity(a.e, b.e) >= {threshold})
    SELECT a.vec_id, a.cid AS cluster_id,
      ROUND(a.cos, {ROUND}) AS centroid_cosine,
      n.cluster_n, d.vec_id IS NULL AS is_kept
    FROM assign a JOIN n USING (cid)
    LEFT JOIN dups d ON d.vec_id = a.vec_id
    {_semantic_dedup_invalid_branch_sql()}"""


def q_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering validity: per first-8-by-id cluster, member
    count, distinct labels, majority label + purity, label entropy —
    the labels-vs-clusters report beside the internal silhouette."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        cluster_label_purity,
    )

    emb = _embeddings(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    out = cluster_label_purity(emb, cents, scoring="expr")
    return _round_cols(out, ["purity", "label_entropy"])


def _cluster_label_purity_sql(k: int = 8, dim: int = 64) -> str:
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
      FROM embeddings ORDER BY vec_id ASC LIMIT {k}),
    v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND list_dot_product(embedding::DOUBLE[],
                             embedding::DOUBLE[]) > 0),
    assign AS (
      SELECT vec_id, label, cid FROM (
        SELECT v.vec_id, v.label, cent.cid,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY list_cosine_similarity(v.e, cent.ce) DESC,
                     cent.cid ASC) AS rn
        FROM v CROSS JOIN cent) WHERE rn = 1),
    -- invalid vectors (NULL/ragged/zero-norm) form the operator's
    -- NULL-cluster row (the semantic_dedup convention): zero rows on
    -- today's all-valid synthetic embeddings, honest the moment one
    -- appears
    cells AS (
      SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
      FROM assign GROUP BY 1, 2
      UNION ALL
      SELECT CAST(NULL AS BIGINT) AS cid, e.label,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings e
      WHERE e.vec_id NOT IN (SELECT vec_id FROM v)
      GROUP BY 2),
    c2 AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY cid) AS DOUBLE)
             AS tot FROM cells),
    agg AS (
      SELECT cid AS cluster_id, CAST(SUM(n) AS BIGINT) AS n_members,
        CAST(COUNT(*) AS BIGINT) AS n_labels,
        ROUND(MAX(n) / MAX(tot), {ROUND}) AS purity,
        ROUND(-SUM((n / tot) * LN(n / tot)), {ROUND}) AS label_entropy
      FROM c2 GROUP BY cid),
    maj AS (
      SELECT cid AS cluster_id, CAST(label AS VARCHAR) AS majority_label
      FROM (SELECT cid, label,
              ROW_NUMBER() OVER (PARTITION BY cid
                ORDER BY n DESC,
                  COALESCE(CAST(label AS VARCHAR), '') ASC) AS rn
            FROM cells) WHERE rn = 1)
    SELECT a.cluster_id, a.n_members, a.n_labels, m.majority_label,
      a.purity, a.label_entropy
    FROM agg a JOIN maj m
      ON a.cluster_id IS NOT DISTINCT FROM m.cluster_id"""


def _semantic_dedup_invalid_branch_sql() -> str:
    """UNION-ALL tail mirroring the operator's invalid-vector rows:
    NULL/ragged/zero-norm embeddings carry no geometry, land in the
    single NULL cluster, and are always kept (``semantic_dedup``'s
    NULL-group passthrough). Zero rows on today's all-valid synthetic
    embeddings, but the branch keeps the oracle honest the moment an
    invalid vector appears (consumed by both semantic_dedup oracles,
    whose ``v`` CTEs define validity)."""
    return """
    UNION ALL
    SELECT e.vec_id, CAST(NULL AS BIGINT) AS cluster_id,
      CAST(NULL AS DOUBLE) AS centroid_cosine,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e2
       WHERE e2.vec_id NOT IN (SELECT vec_id FROM v)) AS cluster_n,
      TRUE AS is_kept
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM v)"""


def _kmeans_fit_sql(k: int = 4, dim: int = 64) -> str:
    """Unrolled 2-iteration Lloyd replay: assignment = max cosine with
    row_number tie-break to the smallest cluster id (Spark's
    array_position-of-max convention), update = per-dimension AVG,
    empty clusters keep the prior centroid, plus one final assignment
    pass for member counts."""
    return f"""
    WITH {_kmeans_c2_ctes_sql(k, dim)},
    df AS (SELECT v.vec_id, c.cid, {_km_cos_sql(dim)} AS cos
           FROM v CROSS JOIN c2 c),
    af AS ({_KM_ASSIGN.format(d='df')}),
    cnt AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM af GROUP BY cid)
    SELECT c2.cid AS cluster_id, CAST(i.i - 1 AS INT) AS pos,
      ROUND(list_extract(c2.e, i.i), {ROUND}) AS centroid,
      cnt.n AS n_members
    FROM c2 CROSS JOIN range(1, {dim + 1}) i(i)
    JOIN cnt ON cnt.cid = c2.cid"""


def q_cluster_balance_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-mix tripwire: the vec_id%3==0 ingest batch's cluster mix
    (assignment to the first-8-by-id fixed centroids) vetted against the
    rolled-up mix state of the rest of the corpus — embeddings never
    re-read."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        cluster_balance_incremental,
        cluster_share_state,
    )

    emb = _embeddings(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    state = cluster_share_state(emb.filter("vec_id % 3 != 0"), cents)
    out = cluster_balance_incremental(
        emb.filter("vec_id % 3 = 0"), state, cents
    )
    return _round_cols(out, ["ref_share", "curr_share", "share_abs_diff"])


def _cluster_balance_incremental_sql() -> str:
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
      FROM embeddings ORDER BY vec_id ASC LIMIT 8),
    assign AS (
      SELECT vec_id, par, cid FROM (
        SELECT v.vec_id, v.vec_id % 3 = 0 AS par, cent.cid,
          ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY list_cosine_similarity(v.embedding::DOUBLE[], cent.ce)
              DESC, cent.cid ASC) AS r
        FROM embeddings v CROSS JOIN cent
        WHERE v.embedding IS NOT NULL) WHERE r = 1),
    counts AS (
      SELECT cid AS cluster_id,
        CAST(SUM(CASE WHEN NOT par THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        CAST(SUM(CASE WHEN par THEN 1 ELSE 0 END) AS BIGINT) AS curr_n
      FROM assign GROUP BY cid),
    shares AS (
      SELECT *,
        CAST(ref_n AS DOUBLE) / NULLIF(SUM(ref_n) OVER (), 0) AS ref_share,
        CAST(curr_n AS DOUBLE) / NULLIF(SUM(curr_n) OVER (), 0) AS curr_share
      FROM counts)
    SELECT cluster_id, ref_n, curr_n,
      ROUND(ref_share, {ROUND}) AS ref_share,
      ROUND(curr_share, {ROUND}) AS curr_share,
      ROUND(abs(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) AS share_abs_diff,
      ROUND(abs(COALESCE(curr_share, 0) - COALESCE(ref_share, 0)),
            {ROUND}) > 0.05 AS drift_detected
    FROM shares"""


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health tripwire (operators.similarity.
    ann_index_incremental): the vec_id%3==0 ingest batch assigns against
    the FROZEN first-8-by-id centroid index and its per-list occupancy +
    assignment-tightness (mean winning cosine) compare against the
    rolled-up ivf_state of the rest of the corpus — the indexed
    embeddings are never re-read. Lists whose share grows, brand-new
    lists, and falling mean cosine are the re-fit signals."""
    from pyspark_data_drift_detector_spark.operators.similarity import (
        ann_index_incremental,
        ivf_state,
    )

    emb = _embeddings(spark, sf_dir)
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    state = ivf_state(emb.filter("vec_id % 3 != 0"), cents)
    out = ann_index_incremental(emb.filter("vec_id % 3 = 0"), state, cents)
    return _round_cols(
        out,
        [
            "ref_share", "curr_share", "share_abs_diff",
            "ref_mean_cosine", "curr_mean_cosine", "mean_cosine_diff",
        ],
    )


def _ann_incremental_sql(threshold: float = 0.05) -> str:
    # the cosine replays Spark's dot/(sqrt*sqrt) shape via
    # list_inner_product; the winner per vector is the max cosine with
    # ties to the smallest centroid id (array_position-of-max semantics)
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
      FROM embeddings ORDER BY vec_id ASC LIMIT 8),
    sims AS (
      SELECT v.vec_id, v.vec_id % 3 = 0 AS is_batch, cent.cid,
        list_inner_product(v.embedding::DOUBLE[], cent.ce) /
          (sqrt(list_inner_product(v.embedding::DOUBLE[],
                                   v.embedding::DOUBLE[])) *
           sqrt(list_inner_product(cent.ce, cent.ce))) AS sim
      FROM embeddings v CROSS JOIN cent
      WHERE v.embedding IS NOT NULL),
    win AS (
      SELECT vec_id, is_batch, cid, sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY sim DESC, cid ASC) AS r
        FROM sims) WHERE r = 1),
    cnt AS (
      SELECT CAST(cid AS BIGINT) AS list_id,
        CAST(SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS BIGINT)
          AS ref_n,
        CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
          AS curr_n,
        SUM(CASE WHEN NOT is_batch THEN sim END) AS ref_sum,
        SUM(CASE WHEN is_batch THEN sim END) AS curr_sum
      FROM win GROUP BY 1),
    sh AS (
      SELECT list_id, ref_n, curr_n,
        CAST(ref_n AS DOUBLE) / NULLIF(SUM(ref_n) OVER (), 0) AS rs,
        CAST(curr_n AS DOUBLE) / NULLIF(SUM(curr_n) OVER (), 0) AS cs,
        ref_sum / NULLIF(CAST(ref_n AS DOUBLE), 0.0) AS rmc,
        curr_sum / NULLIF(CAST(curr_n AS DOUBLE), 0.0) AS cmc
      FROM cnt)
    SELECT list_id, ref_n, curr_n,
      ROUND(rs, {ROUND}) AS ref_share,
      ROUND(cs, {ROUND}) AS curr_share,
      ROUND(rmc, {ROUND}) AS ref_mean_cosine,
      ROUND(cmc, {ROUND}) AS curr_mean_cosine,
      ROUND(abs(COALESCE(cs, 0) - COALESCE(rs, 0)), {ROUND})
        AS share_abs_diff,
      ROUND(cmc - rmc, {ROUND}) AS mean_cosine_diff,
      (ref_n = 0 AND curr_n > 0) AS new_list,
      ROUND(abs(COALESCE(cs, 0) - COALESCE(rs, 0)), 5) > {threshold!r}
        AS drift_detected
    FROM sh"""


def q_passage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing duplicated passages — pair expansion runs
    ONLY for window hashes in 2..cap documents (the join-explosion guard);
    wider boilerplate stays in passage_dedup's span report."""
    from pyspark_data_drift_detector_spark.operators.dedup import passage_pairs

    out = passage_pairs(
        _documents(spark, sf_dir), window=_PASSAGE_W, max_docs_per_hash=64
    )
    return out.selectExpr(
        "doc_a",
        "doc_b",
        "n_shared_windows",
        "CAST(a_min_start AS BIGINT) AS a_min_start",
        "CAST(b_min_start AS BIGINT) AS b_min_start",
    )


def _passage_pairs_sql() -> str:
    w = _PASSAGE_W
    return f"""
    WITH {_passage_idx_sql(w)},
    dd AS (SELECT whash, doc_id, MIN(start) AS start
           FROM idx GROUP BY 1, 2),
    counts AS (SELECT whash, COUNT(*) AS n_docs FROM dd GROUP BY whash),
    eligible AS (
      SELECT d.doc_id, d.start, d.whash
      FROM dd d JOIN counts c USING (whash)
      WHERE c.n_docs >= 2 AND c.n_docs <= 64)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(COUNT(*) AS BIGINT) AS n_shared_windows,
      CAST(MIN(a.start) AS BIGINT) AS a_min_start,
      CAST(MIN(b.start) AS BIGINT) AS b_min_start
    FROM eligible a JOIN eligible b
      ON a.whash = b.whash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id"""


def q_passage_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excision pass: rebuild each document with cross-document duplicated
    passages removed (token-level surgery; whitespace canonicalized)."""
    from pyspark_data_drift_detector_spark.operators.dedup import passage_excise

    return passage_excise(_documents(spark, sf_dir), window=_PASSAGE_W)


def q_passage_excise_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one excision: the smallest-id copy of each duplicated passage
    survives, every other copy is removed — dedup without destroying the
    passage corpus-wide."""
    from pyspark_data_drift_detector_spark.operators.dedup import passage_excise

    return passage_excise(
        _documents(spark, sf_dir), window=_PASSAGE_W, keep_one=True
    )


def _passage_excise_sql(keep_one: bool = False) -> str:
    w = _PASSAGE_W
    keeper = "AND i.doc_id != c.keeper" if keep_one else ""
    return f"""
    WITH {_passage_idx_sql(w)},
    counts AS (SELECT whash, COUNT(DISTINCT doc_id) AS n_docs,
                      MIN(doc_id) AS keeper
               FROM idx GROUP BY whash),
    flagged AS (
      SELECT i.doc_id, i.start, i.start + {w} - 1 AS e
      FROM idx i JOIN counts c USING (whash)
      WHERE c.n_docs >= 2 {keeper}),
    {_PASSAGE_ISLANDS_SQL},
    spans AS (
      SELECT doc_id, MIN(start) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, island),
    per_doc AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
      FROM spans GROUP BY doc_id),
    base AS (
      -- rebuild tokenization MUST share the index CTE's token grid
      -- (regex split on whitespace runs, trimmed) or span positions
      -- misalign on text with tabs / multi-space runs (ADVICE r9)
      SELECT d.doc_id,
        CASE WHEN d.text IS NULL THEN NULL
             ELSE string_split_regex(trim(d.text), '\\s+') END AS t, p.sp
      FROM documents d LEFT JOIN per_doc p USING (doc_id)),
    kept AS (
      SELECT doc_id, t,
        CASE WHEN t IS NULL THEN NULL
             WHEN sp IS NULL THEN t
             ELSE list_transform(
               list_filter(range(1, len(t) + 1),
                 i -> len(list_filter(sp,
                        x -> i >= x.s AND i <= x.e)) = 0),
               i -> t[i]) END AS k
      FROM base)
    SELECT doc_id,
      COALESCE(CAST(len(t) AS BIGINT), 0) AS n_tokens,
      COALESCE(CAST(len(t) - len(k) AS BIGINT), 0) AS excised_tokens,
      COALESCE(CAST(len(k) AS BIGINT), 0) AS kept_tokens,
      CASE WHEN k IS NULL THEN NULL
           -- duckdb's array_to_string([]) is NULL; spark's concat_ws is ''
           ELSE COALESCE(array_to_string(k, ' '), '') END AS clean_text
    FROM kept"""


# --------------------------------------------------------------------------
# Contract functions
# --------------------------------------------------------------------------

def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-duplicates (operators.dedup.fuzzy_pairs):
    the corpus plus typo twins (doc_id+2e6 for every doc_id%7==0, one char
    substituted at position 61) — the OCR-noise/one-keystroke case that
    shingle Jaccard over-fragments. Blocking key (8-char normalized
    prefix, 16-char length band) and the 200-char Levenshtein window are
    part of the spec, replayed verbatim in the oracle."""
    from pyspark_data_drift_detector_spark.operators.dedup import fuzzy_pairs

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    # offset sits far above any shipped SF's max doc_id (~5e3 at sf0.1)
    # and above the containment excerpts' +1e6 block
    twins = docs.filter("doc_id % 7 = 0").selectExpr(
        "doc_id + 2000000 AS doc_id",
        "concat(substring(text, 1, 60), 'q',"
        " CASE WHEN length(text) >= 62 THEN substring(text, 62) ELSE '' END)"
        " AS text",
    )
    return fuzzy_pairs(docs.unionByName(twins))


def _dedup_fuzzy_sql(max_distance: int = 5) -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000,
             substring(text, 1, 60) || 'q' ||
             CASE WHEN length(text) >= 62 THEN substring(text, 62) ELSE '' END
      FROM documents WHERE doc_id % 7 = 0),
    n AS (SELECT doc_id AS id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nrm
          FROM src),
    b AS (SELECT id, nrm, length(nrm) AS len,
                 substring(nrm, 1, 8) || '#' ||
                 CAST(CAST(FLOOR(length(nrm) / 16.0) AS BIGINT) AS VARCHAR)
                   AS blk
          FROM n
          WHERE length(nrm) > 0)
    SELECT a.id AS id1, c.id AS id2,
           CAST(a.len AS BIGINT) AS len1, CAST(c.len AS BIGINT) AS len2,
           CAST(levenshtein(substring(a.nrm, 1, 200),
                            substring(c.nrm, 1, 200)) AS BIGINT) AS distance
    FROM b a JOIN b c ON a.blk = c.blk AND a.id < c.id
    WHERE levenshtein(substring(a.nrm, 1, 200),
                      substring(c.nrm, 1, 200)) <= {max_distance}"""


def q_fuzzy_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy member of the vet-the-increment family (operators.dedup.
    fuzzy_dedup_incremental): the doc_id%3==0 ingest batch — every 6th
    doc replaced by a one-char typo of its successor (which lives in the
    prior corpus) — blocked against the prior corpus's fuzzy_state;
    typo twins must flag dup_of_state, prior text never re-read."""
    from pyspark_data_drift_detector_spark.operators.dedup import (
        fuzzy_dedup_incremental,
        fuzzy_state,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    prior = docs.filter("doc_id % 3 != 0")
    nxt = docs.selectExpr("doc_id - 1 AS doc_id", "text AS next_text")
    batch = (
        docs.filter("doc_id % 3 = 0")
        .join(nxt, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id % 6 = 0 AND next_text IS NOT NULL THEN"
            " concat(substring(next_text, 1, 60), 'q',"
            " CASE WHEN length(next_text) >= 62 THEN substring(next_text, 62)"
            " ELSE '' END)"
            " ELSE text END AS text",
        )
    )
    return fuzzy_dedup_incremental(batch, fuzzy_state(prior))


def _fuzzy_incremental_sql(max_distance: int = 5) -> str:
    key = """SELECT doc_id AS id,
        substring(nrm, 1, 200) AS probe,
        substring(nrm, 1, 8) || '#' ||
          CAST(CAST(FLOOR(length(nrm) / 16.0) AS BIGINT) AS VARCHAR) AS blk
      FROM (SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nrm
            FROM {src})"""
    return f"""
    WITH prior AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
    batch AS (
      SELECT b.doc_id,
        CASE WHEN b.doc_id % 6 = 0 AND n.text IS NOT NULL THEN
          substring(n.text, 1, 60) || 'q' ||
          CASE WHEN length(n.text) >= 62 THEN substring(n.text, 62)
               ELSE '' END
        ELSE b.text END AS text
      FROM documents b LEFT JOIN documents n ON n.doc_id = b.doc_id + 1
      WHERE b.doc_id % 3 = 0),
    pk AS ({key.format(src='prior')}),
    bk AS MATERIALIZED ({key.format(src='batch')}),
    state_hits AS (
      SELECT DISTINCT b.id FROM bk b JOIN pk s ON b.blk = s.blk
      WHERE length(b.probe) > 0 AND length(s.probe) > 0
        AND levenshtein(b.probe, s.probe) <= {max_distance}),
    batch_hits AS (
      SELECT DISTINCT c.id FROM bk c JOIN bk e ON c.blk = e.blk
      WHERE e.id < c.id
        AND length(c.probe) > 0 AND length(e.probe) > 0
        AND levenshtein(c.probe, e.probe) <= {max_distance})
    SELECT b.id AS doc_id,
      s.id IS NOT NULL AS dup_of_state,
      h.id IS NOT NULL AS dup_in_batch,
      s.id IS NULL AND h.id IS NULL AS keep
    FROM bk b
    LEFT JOIN state_hits s ON s.id = b.id
    LEFT JOIN batch_hits h ON h.id = b.id"""


def q_cube_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^d rollup levels in ONE shuffle (operators.groups.cube_profile,
    GROUP BY CUBE): per (returnflag, linestatus), each dim alone, and the
    grand total — the reference's per-dimension group loop collapsed into
    a single aggregation. `level` is the ANSI grouping bitmask."""
    from pyspark_data_drift_detector_spark.operators.groups import cube_profile

    out = cube_profile(
        _lineitem(spark, sf_dir),
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
    )
    return _round_cols(
        out, ["sum_value", "avg_value", "min_value", "max_value"]
    )


def _cube_profile_sql() -> str:
    return f"""
    SELECT
      CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
           ELSE l_returnflag END AS l_returnflag,
      CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
           ELSE l_linestatus END AS l_linestatus,
      CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
        AS level,
      CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(SUM(l_quantity), {ROUND}) AS sum_value,
      ROUND(AVG(l_quantity), {ROUND}) AS avg_value,
      ROUND(MIN(l_quantity), {ROUND}) AS min_value,
      ROUND(MAX(l_quantity), {ROUND}) AS max_value
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)"""


def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily event-value means
    (operators.temporal.ewma_control): the smoothed slow-drift detector
    complementing cusum_changepoint's abrupt-shift scan. The z_t
    recursion runs as a closed-form r^{-i} weighted prefix sum, so the
    DuckDB oracle replays the chart exactly."""
    from pyspark_data_drift_detector_spark.operators.temporal import ewma_control
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir).select("ts", "value")
    out = ewma_control(ev, lam=0.2, limit_sigma=3.0)
    return _round_cols(
        out.select(
            F.date_format("day", "yyyy-MM-dd HH:mm:ss").alias("day"),
            "x",
            "t",
            "z",
            "ucl",
            "lcl",
            "out_of_control",
        ),
        ["x", "z", "ucl", "lcl"],
    )


def _ewma_chart_sql(lam: float = 0.2, limit_sigma: float = 3.0) -> str:
    r = 1.0 - lam
    var_fac = lam / (2.0 - lam)
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, AVG(value) AS x
      FROM events GROUP BY 1),
    base AS (SELECT AVG(x) AS mu0, STDDEV_SAMP(x) AS sigma0 FROM daily),
    t AS (SELECT day, x,
                 CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS t
          FROM daily),
    w AS (SELECT *,
            SUM(x * POWER({r!r}, -t)) OVER (
              ORDER BY day ROWS UNBOUNDED PRECEDING) AS wsum
          FROM t),
    z AS (SELECT day, x, t,
            POWER({r!r}, t) * (mu0 + {lam!r} * wsum) AS z,
            mu0 + {limit_sigma!r} * sigma0 *
              SQRT({var_fac!r} * (1.0 - POWER({r!r}, 2.0 * t))) AS ucl,
            mu0 - {limit_sigma!r} * sigma0 *
              SQRT({var_fac!r} * (1.0 - POWER({r!r}, 2.0 * t))) AS lcl
          FROM w CROSS JOIN base)
    SELECT strftime(day, '%Y-%m-%d %H:%M:%S') AS day,
           ROUND(x, {ROUND}) AS x,
           CAST(t AS BIGINT) AS t,
           ROUND(z, {ROUND}) AS z,
           ROUND(ucl, {ROUND}) AS ucl,
           ROUND(lcl, {ROUND}) AS lcl,
           (z > ucl OR z < lcl) AS out_of_control
    FROM z"""


def q_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi² drill-down (operators.categorical_drift.
    chi2_cell_residuals): adjusted standardized residuals of the 2×C
    ref/curr table per categorical column — WHICH category drives a
    significant chi², the question the per-column p-value (M6) leaves
    open."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import (
        chi2_cell_residuals,
    )

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = chi2_cell_residuals(ref, curr, LINEITEM_CATEGORICAL)
    return _round_cols(out, ["expected_curr", "std_residual"])


def _chi2_cells_sql(significance: float = 2.0) -> str:
    return f"""
    WITH u AS (
      SELECT 'l_returnflag' AS column_name, l_returnflag AS value,
             l_orderkey % 2 AS side
      FROM lineitem WHERE l_returnflag IS NOT NULL
      UNION ALL
      SELECT 'l_linestatus', l_linestatus, l_orderkey % 2
      FROM lineitem WHERE l_linestatus IS NOT NULL),
    cells AS (
      SELECT column_name, value,
        CAST(COUNT(*) FILTER (WHERE side = 0) AS BIGINT) AS ref_cnt,
        CAST(COUNT(*) FILTER (WHERE side = 1) AS BIGINT) AS curr_cnt
      FROM u GROUP BY 1, 2),
    tot AS (SELECT column_name, SUM(ref_cnt) AS rt, SUM(curr_cnt) AS ct
            FROM cells GROUP BY 1),
    e AS (
      SELECT c.column_name, c.value, c.ref_cnt, c.curr_cnt,
        CAST(t.ct AS DOUBLE) * CAST(c.ref_cnt + c.curr_cnt AS DOUBLE)
          / CAST(t.rt + t.ct AS DOUBLE) AS e_curr,
        SQRT(CAST(t.ct AS DOUBLE) * CAST(c.ref_cnt + c.curr_cnt AS DOUBLE)
               / CAST(t.rt + t.ct AS DOUBLE)
             * (1.0 - CAST(t.ct AS DOUBLE) / CAST(t.rt + t.ct AS DOUBLE))
             * (1.0 - CAST(c.ref_cnt + c.curr_cnt AS DOUBLE)
                    / CAST(t.rt + t.ct AS DOUBLE))) AS denom
      FROM cells c JOIN tot t USING (column_name))
    SELECT column_name, value, ref_cnt, curr_cnt,
      ROUND(e_curr, {ROUND}) AS expected_curr,
      ROUND(CASE WHEN denom > 0 THEN (curr_cnt - e_curr) / denom END,
            {ROUND}) AS std_residual,
      CASE WHEN denom > 0
           THEN ABS((curr_cnt - e_curr) / denom) > {significance!r}
           ELSE FALSE END AS significant
    FROM e"""


def q_seasonality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week + hour-of-day activity-mix drift between the even/odd
    user cohorts (operators.temporal.seasonality_drift): the temporal
    twin of categorical PSI, one O(31)-bucket panel per side with the
    standard zero-bin epsilon clamp."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        seasonality_drift,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    out = seasonality_drift(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )
    return _round_cols(out, ["ref_freq", "curr_freq", "psi_term"])


def _seasonality_drift_sql(
    epsilon: float = 1e-4, side_expr: str = "e.user_id % 2"
) -> str:
    return f"""
    WITH u AS (
      SELECT g.grain, g.bucket, {side_expr} AS side
      FROM events e CROSS JOIN LATERAL (
        SELECT 'dow' AS grain,
               CAST(date_part('dow', e.ts) AS BIGINT) AS bucket
        UNION ALL
        SELECT 'hour', CAST(date_part('hour', e.ts) AS BIGINT)) g),
    cells AS (
      SELECT grain, bucket,
        CAST(COUNT(*) FILTER (WHERE side = 0) AS BIGINT) AS ref_cnt,
        CAST(COUNT(*) FILTER (WHERE side = 1) AS BIGINT) AS curr_cnt
      FROM u GROUP BY 1, 2),
    tot AS (SELECT grain, SUM(ref_cnt) AS rt, SUM(curr_cnt) AS ct
            FROM cells GROUP BY 1),
    pq AS (
      SELECT c.grain, c.bucket, c.ref_cnt, c.curr_cnt,
        GREATEST(CAST(c.ref_cnt AS DOUBLE) / GREATEST(t.rt, 1),
                 {epsilon!r}) AS p,
        GREATEST(CAST(c.curr_cnt AS DOUBLE) / GREATEST(t.ct, 1),
                 {epsilon!r}) AS q
      FROM cells c JOIN tot t USING (grain))
    SELECT grain, bucket, ref_cnt, curr_cnt,
      ROUND(p, {ROUND}) AS ref_freq,
      ROUND(q, {ROUND}) AS curr_freq,
      ROUND((q - p) * LN(q / p), {ROUND}) AS psi_term
    FROM pq"""


def q_seasonality_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal member of the vet-the-increment family: the event_id%3==0
    ingest batch's dow/hour mix checked against the rolled-up
    seasonality_state of the prior corpus (operators.temporal.
    seasonality_incremental) — exactly equal to the batch comparison by
    count additivity, prior events never re-read."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        seasonality_incremental,
        seasonality_state,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    state = seasonality_state(ev.filter(F.col("event_id") % 3 != 0))
    out = seasonality_incremental(ev.filter(F.col("event_id") % 3 == 0), state)
    return _round_cols(out, ["ref_freq", "curr_freq", "psi_term"])


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup savings sheet (operators.dedup.dedup_savings):
    documents plus cross-source mirror copies (doc_id+3e6 for every
    doc_id%6==0, re-sourced to 'mirror') — the mirror source must show
    ~100% dropped token share while origins keep their mass (keep-min-id
    attribution)."""
    from pyspark_data_drift_detector_spark.operators.dedup import dedup_savings

    docs = _documents(spark, sf_dir).select("doc_id", "source", "text")
    mirror = docs.filter("doc_id % 6 = 0").selectExpr(
        "doc_id + 3000000 AS doc_id", "'mirror' AS source", "text"
    )
    out = dedup_savings(docs.unionByName(mirror))
    return _round_cols(out, ["dropped_token_share"])


def _dedup_savings_sql() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000, 'mirror', text
      FROM documents WHERE doc_id % 6 = 0),
    keyed AS (
      SELECT doc_id, source,
        md5(trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
              '\\s+', ' ', 'g'))) AS content_key,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
          AS n_tokens
      FROM src),
    groups AS (SELECT content_key, MIN(doc_id) AS survivor_id
               FROM keyed GROUP BY 1),
    flagged AS (
      SELECT k.*, k.doc_id <> g.survivor_id AS is_dup
      FROM keyed k JOIN groups g USING (content_key))
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_dropped,
      CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
      CAST(SUM(CASE WHEN is_dup THEN n_tokens ELSE 0 END) AS BIGINT)
        AS tokens_dropped,
      ROUND(CAST(SUM(CASE WHEN is_dup THEN n_tokens ELSE 0 END) AS DOUBLE)
              / GREATEST(SUM(n_tokens), 1), {ROUND}) AS dropped_token_share
    FROM flagged GROUP BY source"""


def q_events_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed events-side flagship (events_pipeline.events_drift_report):
    volume / event-mix / seasonality families between the even/odd user
    cohorts in one long-format frame — the nightly artifact an event
    pipeline ships, sibling of corpus_report and embedding_report."""
    from pyspark_data_drift_detector_spark.events_pipeline import (
        events_drift_report,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    return events_drift_report(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )


def _season_psi_ctes(side_expr: str) -> str:
    """Shared oracle CTE chain for the per-grain seasonal PSI (dow/hour
    buckets, epsilon-clamped) — used by both events-report oracles so the
    bucket arithmetic can never diverge between them."""
    return f"""season_u AS (
      SELECT g.grain, g.bucket, {side_expr} AS side
      FROM events e CROSS JOIN LATERAL (
        SELECT 'dow' AS grain,
               CAST(date_part('dow', e.ts) AS BIGINT) AS bucket
        UNION ALL
        SELECT 'hour', CAST(date_part('hour', e.ts) AS BIGINT)) g),
    season_cells AS (
      SELECT grain, bucket,
        CAST(COUNT(*) FILTER (WHERE side = 0) AS BIGINT) AS ref_cnt,
        CAST(COUNT(*) FILTER (WHERE side = 1) AS BIGINT) AS curr_cnt
      FROM season_u GROUP BY 1, 2),
    season_tot AS (SELECT grain, SUM(ref_cnt) AS rt, SUM(curr_cnt) AS ct
                   FROM season_cells GROUP BY 1),
    season AS (
      SELECT c.grain,
        SUM((GREATEST(CAST(c.curr_cnt AS DOUBLE) / GREATEST(t.ct, 1), 1e-04)
             - GREATEST(CAST(c.ref_cnt AS DOUBLE) / GREATEST(t.rt, 1), 1e-04))
            * LN(GREATEST(CAST(c.curr_cnt AS DOUBLE) / GREATEST(t.ct, 1), 1e-04)
                 / GREATEST(CAST(c.ref_cnt AS DOUBLE) / GREATEST(t.rt, 1),
                            1e-04))) AS psi
      FROM season_cells c JOIN season_tot t USING (grain) GROUP BY 1)"""


def _events_report_sql() -> str:
    relchange = (
        "CASE WHEN {a} != 0 THEN abs(({b} - {a}) / CAST({a} AS DOUBLE))"
        " WHEN {b} != 0 THEN 1.0 ELSE 0.0 END"
    )
    epd_rc = relchange.format(
        a="(ref_events / CAST(GREATEST(ref_days, 1) AS DOUBLE))",
        b="(curr_events / CAST(GREATEST(curr_days, 1) AS DOUBLE))",
    )
    users_rc = relchange.format(a="ref_users", b="curr_users")
    mean_rc = relchange.format(a="ref_mean_value", b="curr_mean_value")
    null_rc = relchange.format(a="ref_null_rate", b="curr_null_rate")
    return f"""
    WITH tagged AS (SELECT *, user_id % 2 AS side FROM events),
    vol AS (
      SELECT
        COUNT(*) FILTER (WHERE side = 0) AS ref_events,
        COUNT(*) FILTER (WHERE side = 1) AS curr_events,
        COUNT(DISTINCT CASE WHEN side = 0
                            THEN date_trunc('day', ts) END) AS ref_days,
        COUNT(DISTINCT CASE WHEN side = 1
                            THEN date_trunc('day', ts) END) AS curr_days,
        COUNT(DISTINCT CASE WHEN side = 0 THEN user_id END) AS ref_users,
        COUNT(DISTINCT CASE WHEN side = 1 THEN user_id END) AS curr_users,
        AVG(CASE WHEN side = 0 THEN value END) AS ref_mean_value,
        AVG(CASE WHEN side = 1 THEN value END) AS curr_mean_value,
        AVG(CASE WHEN side = 0
                 THEN CAST(value IS NULL AS DOUBLE) END) AS ref_null_rate,
        AVG(CASE WHEN side = 1
                 THEN CAST(value IS NULL AS DOUBLE) END) AS curr_null_rate
      FROM tagged),
    mix AS (
      SELECT event_type AS value,
        CAST(COUNT(*) FILTER (WHERE side = 0) AS BIGINT) AS ref_cnt,
        CAST(COUNT(*) FILTER (WHERE side = 1) AS BIGINT) AS curr_cnt
      FROM tagged GROUP BY 1),
    mixtot AS (SELECT SUM(ref_cnt) AS rt, SUM(curr_cnt) AS ct FROM mix),
    shares AS (
      SELECT value,
        ref_cnt / CAST(GREATEST(rt, 1) AS DOUBLE) AS ref_share,
        curr_cnt / CAST(GREATEST(ct, 1) AS DOUBLE) AS curr_share
      FROM mix CROSS JOIN mixtot),
    jsd AS (
      SELECT SQRT(GREATEST(0.0, (
        SUM(CASE WHEN ref_share > 0 AND (ref_share + curr_share) / 2 > 0
                 THEN ref_share *
                      LOG2(ref_share / ((ref_share + curr_share) / 2))
                 ELSE 0.0 END) +
        SUM(CASE WHEN curr_share > 0 AND (ref_share + curr_share) / 2 > 0
                 THEN curr_share *
                      LOG2(curr_share / ((ref_share + curr_share) / 2))
                 ELSE 0.0 END)) / 2)) AS js_distance
      FROM shares),
    {_season_psi_ctes("e.user_id % 2")}
    SELECT 'volume' AS family, '' AS key, 'events_per_day' AS metric,
      ROUND(ref_events / CAST(GREATEST(ref_days, 1) AS DOUBLE), {ROUND})
        AS ref_value,
      ROUND(curr_events / CAST(GREATEST(curr_days, 1) AS DOUBLE), {ROUND})
        AS curr_value,
      ROUND({epd_rc}, {ROUND}) AS diff,
      ROUND({epd_rc}, {ROUND}) > 0.1 AS drift_detected FROM vol
    UNION ALL
    SELECT 'volume', '', 'active_users',
      CAST(ROUND(ref_users, {ROUND}) AS DOUBLE),
      CAST(ROUND(curr_users, {ROUND}) AS DOUBLE),
      ROUND({users_rc}, {ROUND}), ROUND({users_rc}, {ROUND}) > 0.1 FROM vol
    UNION ALL
    SELECT 'volume', '', 'mean_value',
      ROUND(ref_mean_value, {ROUND}), ROUND(curr_mean_value, {ROUND}),
      ROUND({mean_rc}, {ROUND}), ROUND({mean_rc}, {ROUND}) > 0.1 FROM vol
    UNION ALL
    SELECT 'volume', '', 'value_null_rate',
      ROUND(ref_null_rate, {ROUND}), ROUND(curr_null_rate, {ROUND}),
      ROUND({null_rc}, {ROUND}), ROUND({null_rc}, {ROUND}) > 0.1 FROM vol
    UNION ALL
    SELECT 'event_mix',
      CASE WHEN value IS NULL THEN '<null>' ELSE CAST(value AS VARCHAR) END,
      'share',
      ROUND(ref_share, {ROUND}), ROUND(curr_share, {ROUND}),
      ROUND(ABS(curr_share - ref_share), {ROUND}),
      ROUND(ABS(curr_share - ref_share), {ROUND}) > 0.05 FROM shares
    UNION ALL
    SELECT 'event_mix', '', 'js_distance', NULL, NULL,
      ROUND(js_distance, {ROUND}), ROUND(js_distance, {ROUND}) > 0.1 FROM jsd
    UNION ALL
    SELECT 'seasonality', grain, 'psi', NULL, NULL,
      ROUND(psi, {ROUND}), ROUND(psi, {ROUND}) > 0.1 FROM season"""


def q_transition_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov stationarity check (operators.temporal.transition_stationary):
    power-iterated stationary distribution of the per-user transition
    chain vs the observed event mix — 8 renormalized iterations over the
    O(types²) panel, replayed CTE-for-CTE in the oracle."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        transition_stationary,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = transition_stationary(load_events(spark, sf_dir), n_iter=8)
    return _round_cols(
        out, ["stationary_share", "observed_share", "divergence"]
    )


def _transition_stationary_sql(n_iter: int = 8) -> str:
    # terminal states (observed only as targets) carry an implicit
    # self-loop; every join is null-safe because NULL event types are
    # valid states — both conventions mirror the Spark operator exactly
    its = []
    prev = "it0"
    for k in range(1, n_iter + 1):
        its.append(
            f"""
    f{k} AS (
      SELECT p.next_type AS state, SUM(i.pi * p.prob) AS v
      FROM {prev} i JOIN pmat p
        ON p.prev_type IS NOT DISTINCT FROM i.state GROUP BY 1),
    r{k} AS MATERIALIZED (
      SELECT s.state,
        COALESCE(f.v, 0.0)
          + CASE WHEN o.is_out IS NULL THEN i.pi ELSE 0.0 END AS v
      FROM states s
      LEFT JOIN f{k} f ON f.state IS NOT DISTINCT FROM s.state
      LEFT JOIN outg o ON o.state IS NOT DISTINCT FROM s.state
      JOIN {prev} i ON i.state IS NOT DISTINCT FROM s.state),
    it{k} AS (
      SELECT state, v / t.tv AS pi
      FROM r{k} CROSS JOIN (SELECT SUM(v) AS tv FROM r{k}) t)"""
        )
        prev = f"it{k}"
    return f"""
    WITH seq AS (
      SELECT event_type AS et,
        LAG(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_et,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
      FROM events),
    pr AS (SELECT prev_et AS prev_type, et AS next_type, COUNT(*) AS n
           FROM seq WHERE rn > 1 GROUP BY 1, 2),
    tots AS (SELECT prev_type, SUM(n) AS tot FROM pr GROUP BY 1),
    pmat AS MATERIALIZED (SELECT p.prev_type, p.next_type,
                    CAST(p.n AS DOUBLE) / t.tot AS prob
             FROM pr p JOIN tots t
               ON t.prev_type IS NOT DISTINCT FROM p.prev_type),
    outg AS MATERIALIZED (
      SELECT DISTINCT prev_type AS state, 1 AS is_out FROM pmat),
    states AS MATERIALIZED (
      SELECT DISTINCT prev_type AS state FROM pmat
      UNION
      SELECT DISTINCT next_type FROM pmat),
    it0 AS (SELECT state, CAST(1.0 AS DOUBLE) / s.s AS pi
            FROM states CROSS JOIN (SELECT COUNT(*) AS s FROM states) s),
    {",".join(its)},
    obs AS (SELECT event_type AS state, COUNT(*) AS cnt
            FROM events GROUP BY 1),
    n_ev AS (SELECT COUNT(*) AS n FROM events)
    SELECT s.state,
      ROUND(i.pi, {ROUND}) AS stationary_share,
      ROUND(COALESCE(o.cnt, 0) / CAST(e.n AS DOUBLE), {ROUND})
        AS observed_share,
      ROUND(ABS(i.pi - COALESCE(o.cnt, 0) / CAST(e.n AS DOUBLE)), {ROUND})
        AS divergence
    FROM states s
    JOIN {prev} i ON i.state IS NOT DISTINCT FROM s.state
    LEFT JOIN obs o ON o.state IS NOT DISTINCT FROM s.state
    CROSS JOIN n_ev e"""


def q_ewma_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA charts (operators.temporal.ewma_control with
    by=['event_type']): one control chart per event type — the
    production monitoring shape; every window partitions on the series
    key, Phase-I baselines per series."""
    from pyspark_data_drift_detector_spark.operators.temporal import ewma_control
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir).select("ts", "event_type", "value")
    out = ewma_control(ev, lam=0.2, limit_sigma=3.0, by=["event_type"])
    return _round_cols(
        out.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd HH:mm:ss").alias("day"),
            "x",
            "t",
            "z",
            "ucl",
            "lcl",
            "out_of_control",
        ),
        ["x", "z", "ucl", "lcl"],
    )


def _ewma_grouped_sql(lam: float = 0.2, limit_sigma: float = 3.0) -> str:
    r = 1.0 - lam
    var_fac = lam / (2.0 - lam)
    return f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, AVG(value) AS x
      FROM events GROUP BY 1, 2),
    b AS (SELECT *,
            AVG(x) OVER (PARTITION BY event_type) AS mu0,
            STDDEV_SAMP(x) OVER (PARTITION BY event_type) AS sigma0
          FROM daily),
    t AS (SELECT *,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS DOUBLE) AS t
          FROM b),
    w AS (SELECT *,
            SUM(x * POWER({r!r}, -t)) OVER (
              PARTITION BY event_type
              ORDER BY day ROWS UNBOUNDED PRECEDING) AS wsum
          FROM t),
    z AS (SELECT event_type, day, x, t,
            POWER({r!r}, t) * (mu0 + {lam!r} * wsum) AS z,
            mu0 + {limit_sigma!r} * sigma0 *
              SQRT({var_fac!r} * (1.0 - POWER({r!r}, 2.0 * t))) AS ucl,
            mu0 - {limit_sigma!r} * sigma0 *
              SQRT({var_fac!r} * (1.0 - POWER({r!r}, 2.0 * t))) AS lcl
          FROM w)
    SELECT event_type,
           strftime(day, '%Y-%m-%d %H:%M:%S') AS day,
           ROUND(x, {ROUND}) AS x,
           CAST(t AS BIGINT) AS t,
           ROUND(z, {ROUND}) AS z,
           ROUND(ucl, {ROUND}) AS ucl,
           ROUND(lcl, {ROUND}) AS lcl,
           (z > ucl OR z < lcl) AS out_of_control
    FROM z"""


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution for 'purchase' conversions
    (operators.temporal.touch_attribution): one window pass carries both
    models; conversions with no prior touch land in '<none>'."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        touch_attribution,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = touch_attribution(load_events(spark, sf_dir), "purchase")
    return _round_cols(out, ["share"])


def _touch_attribution_sql(conversion: str = "purchase") -> str:
    return f"""
    WITH t AS (
      SELECT event_type,
        first_value(CASE WHEN event_type <> '{conversion}'
                         THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS first_t,
        last_value(CASE WHEN event_type <> '{conversion}'
                        THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_t
      FROM events),
    conv AS (SELECT * FROM t WHERE event_type = '{conversion}'),
    m AS (
      SELECT 'first_touch' AS model,
             COALESCE(first_t, '<none>') AS touch_type FROM conv
      UNION ALL
      SELECT 'last_touch', COALESCE(last_t, '<none>') FROM conv),
    c AS (SELECT model, touch_type,
                 CAST(COUNT(*) AS BIGINT) AS conversions
          FROM m GROUP BY 1, 2),
    tt AS (SELECT model, SUM(conversions) AS tot FROM c GROUP BY 1)
    SELECT c.model, c.touch_type, c.conversions,
      ROUND(c.conversions / CAST(t.tot AS DOUBLE), {ROUND}) AS share
    FROM c JOIN tt t USING (model)"""


def q_events_report_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-side ingest-vetting flagship (events_pipeline.
    events_report_incremental): the last-10-days batch vetted against
    the first-20-days rolled-up states (volume / type-mix / seasonality
    counts + transition pair/last state) — prior events never re-read;
    completes the incremental-flagship trio with corpus_report_ and
    embedding_report_incremental."""
    from pyspark_data_drift_detector_spark.events_pipeline import (
        event_type_state,
        events_report_incremental,
        events_volume_state,
    )
    from pyspark_data_drift_detector_spark.operators.temporal import (
        seasonality_state,
        transition_last_state,
        transition_pair_state,
    )
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_events(spark, sf_dir)
    prior = ev.filter("ts < TIMESTAMP '2024-01-21'")
    batch = ev.filter("ts >= TIMESTAMP '2024-01-21'")
    return events_report_incremental(
        batch,
        events_volume_state(prior),
        event_type_state(prior),
        seasonality_state(prior),
        transition_pair_state(prior),
        transition_last_state(prior),
    )


def _events_report_incremental_sql(trans_thr: float = 0.02) -> str:
    relchange = (
        "CASE WHEN {a} != 0 THEN abs(({b} - {a}) / CAST({a} AS DOUBLE))"
        " WHEN {b} != 0 THEN 1.0 ELSE 0.0 END"
    )
    epd_ref = "(rn / CAST(GREATEST(rd, 1) AS DOUBLE))"
    epd_curr = "(cn / CAST(GREATEST(cd, 1) AS DOUBLE))"
    epd_rc = relchange.format(a=epd_ref, b=epd_curr)
    return f"""
    WITH pvol AS (
      SELECT SUM(n) AS rn, COUNT(*) AS rd FROM (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY 1)),
    bvol AS (
      SELECT COUNT(*) AS cn,
             COUNT(DISTINCT date_trunc('day', ts)) AS cd
      FROM events WHERE ts >= TIMESTAMP '2024-01-21'),
    mix AS MATERIALIZED (
      SELECT event_type AS value,
        CAST(COUNT(*) FILTER (
          WHERE ts < TIMESTAMP '2024-01-21') AS BIGINT) AS ref_cnt,
        CAST(COUNT(*) FILTER (
          WHERE ts >= TIMESTAMP '2024-01-21') AS BIGINT) AS curr_cnt
      FROM events GROUP BY 1),
    mixtot AS (SELECT SUM(ref_cnt) AS rt, SUM(curr_cnt) AS ct FROM mix),
    shares AS MATERIALIZED (
      SELECT value,
        ref_cnt / CAST(GREATEST(rt, 1) AS DOUBLE) AS ref_share,
        curr_cnt / CAST(GREATEST(ct, 1) AS DOUBLE) AS curr_share
      FROM mix CROSS JOIN mixtot),
    jsd AS (
      SELECT SQRT(GREATEST(0.0, (
        SUM(CASE WHEN ref_share > 0 AND (ref_share + curr_share) / 2 > 0
                 THEN ref_share *
                      LOG2(ref_share / ((ref_share + curr_share) / 2))
                 ELSE 0.0 END) +
        SUM(CASE WHEN curr_share > 0 AND (ref_share + curr_share) / 2 > 0
                 THEN curr_share *
                      LOG2(curr_share / ((ref_share + curr_share) / 2))
                 ELSE 0.0 END)) / 2)) AS js_distance
      FROM shares),
    {_season_psi_ctes("CASE WHEN e.ts >= TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END")},
    trans AS MATERIALIZED ({_transition_incremental_sql(trans_thr)}),
    transagg AS (
      SELECT MAX(share_abs_diff) AS mx,
        CAST(SUM(CASE WHEN drift_detected THEN 1 ELSE 0 END) AS BIGINT)
          AS nf
      FROM trans)
    SELECT 'volume' AS family, '' AS key, 'events_per_day' AS metric,
      ROUND({epd_ref}, {ROUND}) AS ref_value,
      ROUND({epd_curr}, {ROUND}) AS curr_value,
      ROUND({epd_rc}, {ROUND}) AS diff,
      ROUND({epd_rc}, {ROUND}) > 0.1 AS drift_detected
    FROM pvol CROSS JOIN bvol
    UNION ALL
    SELECT 'event_mix',
      CASE WHEN value IS NULL THEN '<null>' ELSE CAST(value AS VARCHAR) END,
      'share',
      ROUND(ref_share, {ROUND}), ROUND(curr_share, {ROUND}),
      ROUND(ABS(curr_share - ref_share), {ROUND}),
      ROUND(ABS(curr_share - ref_share), {ROUND}) > 0.05 FROM shares
    UNION ALL
    SELECT 'event_mix', '', 'js_distance', NULL, NULL,
      ROUND(js_distance, {ROUND}), ROUND(js_distance, {ROUND}) > 0.1 FROM jsd
    UNION ALL
    SELECT 'seasonality', grain, 'psi', NULL, NULL,
      ROUND(psi, {ROUND}), ROUND(psi, {ROUND}) > 0.1 FROM season
    UNION ALL
    SELECT 'transitions', '', 'max_share_diff', NULL, NULL,
      ROUND(mx, {ROUND}),
      ROUND(mx, {ROUND}) > CAST({trans_thr!r} AS DOUBLE) FROM transagg
    UNION ALL
    SELECT 'transitions', '', 'flagged_pairs', NULL,
      CAST(nf AS DOUBLE), CAST(nf AS DOUBLE), false FROM transagg"""


def q_psi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI drill-down (operators.distribution.psi_numeric_cells):
    which reference-decile band drives a hot numeric PSI — the numeric
    twin of chi2_cells, with both sides' counts, clamped frequencies,
    signed psi_term, and the bin's quantile edges."""
    from pyspark_data_drift_detector_spark.operators.distribution import (
        psi_numeric_cells,
    )

    ref, curr = _split(_lineitem(spark, sf_dir))
    out = psi_numeric_cells(
        ref, curr, ["l_quantity", "l_extendedprice", "l_discount"]
    )
    return _round_cols(
        out,
        ["lo_edge", "hi_edge", "ref_freq", "curr_freq", "psi_term"],
    )


def _psi_cells_sql(bins: int = 10, epsilon: float = 1e-4) -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    probs = ", ".join(str(i / bins) for i in range(1, bins))
    counts, grids = [], []
    for c in cols:
        bin_expr = " + ".join(
            f"(CASE WHEN {c} > ROUND(e.q[{i}], 9) THEN 1 ELSE 0 END)"
            for i in range(1, bins)
        )
        counts.append(f"""
        SELECT '{c}' AS column_name, {bin_expr} AS bin,
          CAST(SUM(CASE WHEN {_REF_W} THEN 1 ELSE 0 END) AS BIGINT) AS rc,
          CAST(SUM(CASE WHEN {_CURR_W} THEN 1 ELSE 0 END) AS BIGINT) AS cc
        FROM lineitem CROSS JOIN
          (SELECT quantile_cont({c}, [{probs}]) AS q
           FROM lineitem WHERE {_REF_W}) e
        WHERE {c} IS NOT NULL GROUP BY 1, 2""")
        grids.append(f"""
        SELECT '{c}' AS column_name, r.bin,
          CASE WHEN r.bin = 0 THEN NULL
               ELSE ROUND(e.q[CAST(r.bin AS INT)], 9) END AS lo_edge,
          CASE WHEN r.bin >= {bins - 1} THEN NULL
               ELSE ROUND(e.q[CAST(r.bin AS INT) + 1], 9) END AS hi_edge
        FROM range({bins}) r(bin) CROSS JOIN
          (SELECT quantile_cont({c}, [{probs}]) AS q
           FROM lineitem WHERE {_REF_W}) e""")
    return f"""
    WITH counts AS ({' UNION ALL '.join(counts)}),
    grid AS ({' UNION ALL '.join(grids)}),
    tot AS (SELECT column_name, SUM(rc) AS rt, SUM(cc) AS ct
            FROM counts GROUP BY 1)
    SELECT g.column_name, CAST(g.bin AS BIGINT) AS bin,
      ROUND(g.lo_edge, {ROUND}) AS lo_edge,
      ROUND(g.hi_edge, {ROUND}) AS hi_edge,
      CAST(COALESCE(c.rc, 0) AS BIGINT) AS ref_n,
      CAST(COALESCE(c.cc, 0) AS BIGINT) AS curr_n,
      ROUND(GREATEST(CAST(COALESCE(c.rc, 0) AS DOUBLE) / GREATEST(t.rt, 1),
                     {epsilon}), {ROUND}) AS ref_freq,
      ROUND(GREATEST(CAST(COALESCE(c.cc, 0) AS DOUBLE) / GREATEST(t.ct, 1),
                     {epsilon}), {ROUND}) AS curr_freq,
      ROUND((GREATEST(CAST(COALESCE(c.cc, 0) AS DOUBLE) / GREATEST(t.ct, 1),
                      {epsilon})
             - GREATEST(CAST(COALESCE(c.rc, 0) AS DOUBLE) / GREATEST(t.rt, 1),
                        {epsilon}))
            * LN(GREATEST(CAST(COALESCE(c.cc, 0) AS DOUBLE) / GREATEST(t.ct, 1),
                          {epsilon})
                 / GREATEST(CAST(COALESCE(c.rc, 0) AS DOUBLE)
                            / GREATEST(t.rt, 1), {epsilon})), {ROUND})
        AS psi_term
    FROM grid g
    JOIN tot t ON t.column_name = g.column_name
    LEFT JOIN counts c ON c.column_name = g.column_name AND c.bin = g.bin"""


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table record linkage (operators.linkage.record_linkage):
    the customer table is the master; the probe feed is a deterministic
    "dirty registration" derivation — one char deleted (custkey%3=0),
    one char substituted (custkey%3=1), case/whitespace noise only
    (else), and an unlinkable 'Unreg' identity every 11th key. The
    pair-product cap drops the degenerate shared-prefix block
    ('customer#...' puts EVERY record in one prefix block — the classic
    hot-block case), so matching flows through the bandless suffix pass;
    band slack keeps the deletion probes (which cross a length band)
    linkable. Output: per-probe best master, distance, candidate count."""
    from pyspark_data_drift_detector_spark.operators.linkage import (
        record_linkage,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    master = cust.selectExpr("c_custkey AS id", "c_name AS name")
    probe = cust.selectExpr(
        "c_custkey + 1000000 AS id",
        "CASE WHEN c_custkey % 11 = 0"
        " THEN concat('Unreg ', CAST(c_custkey * 7 AS STRING))"
        " WHEN c_custkey % 3 = 0"
        " THEN concat(substring(c_name, 1, 10), substring(c_name, 12))"
        " WHEN c_custkey % 3 = 1"
        " THEN concat(substring(c_name, 1, 11), 'x', substring(c_name, 13))"
        " ELSE concat(upper(c_name), '  ') END AS name",
    )
    return record_linkage(
        probe, master, prefix_len=6, suffix_len=6, band_width=8,
        max_distance=2, compare_len=32, max_block_pairs=50000,
    )


def _record_linkage_sql(
    cap: int = 50000, dist: int = 2, pre: int = 6, suf: int = 6,
    bw: int = 8, cmp_len: int = 32,
) -> str:
    return f"""
    WITH master AS (SELECT c_custkey AS id, c_name AS name FROM customer),
    probe AS (
      SELECT c_custkey + 1000000 AS id,
        CASE WHEN c_custkey % 11 = 0
             THEN 'Unreg ' || CAST(c_custkey * 7 AS VARCHAR)
             WHEN c_custkey % 3 = 0
             THEN substring(c_name, 1, 10) || substring(c_name, 12)
             WHEN c_custkey % 3 = 1
             THEN substring(c_name, 1, 11) || 'x' || substring(c_name, 13)
             ELSE upper(c_name) || '  ' END AS name
      FROM customer),
    mn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM master),
    pn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM probe),
    mk AS (
      SELECT id, substring(nrm, 1, {cmp_len}) AS prb, length(nrm) AS len,
        UNNEST(['p#' || substring(nrm, 1, {pre}) || '#' ||
                  CAST(CAST(FLOOR(length(nrm) / {bw}.0) AS BIGINT) AS VARCHAR),
                's#' || right(nrm, {suf})]) AS blk
      FROM mn WHERE length(nrm) > 0),
    pk AS (
      SELECT id, substring(nrm, 1, {cmp_len}) AS prb, length(nrm) AS len,
        UNNEST(list_append(
          list_transform(
            generate_series(
              CAST(FLOOR((length(nrm) - {dist}) / {bw}.0) AS BIGINT),
              CAST(FLOOR((length(nrm) + {dist}) / {bw}.0) AS BIGINT)),
            b -> 'p#' || substring(nrm, 1, {pre}) || '#' ||
                 CAST(b AS VARCHAR)),
          's#' || right(nrm, {suf}))) AS blk
      FROM pn WHERE length(nrm) > 0),
    pc AS (SELECT blk, COUNT(*) AS c FROM pk GROUP BY 1),
    mc AS (SELECT blk, COUNT(*) AS c FROM mk GROUP BY 1),
    ok AS (SELECT pc.blk FROM pc JOIN mc ON pc.blk = mc.blk
           WHERE pc.c * mc.c <= {cap}),
    cand AS (
      SELECT DISTINCT p.id AS pid, m.id AS mid, p.prb AS pp, m.prb AS mp,
                      p.len AS pl, m.len AS ml
      FROM pk p JOIN ok o ON p.blk = o.blk JOIN mk m ON m.blk = p.blk),
    ver AS (
      SELECT pid, mid, levenshtein(pp, mp) AS distance
      FROM cand
      WHERE ABS(pl - ml) <= {dist} AND levenshtein(pp, mp) <= {dist}),
    best AS (
      SELECT pid, mid, distance,
        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY distance, mid) AS rn,
        COUNT(*) OVER (PARTITION BY pid) AS ncand
      FROM ver)
    SELECT pr.id AS probe_id, b.mid AS master_id,
      CAST(b.distance AS BIGINT) AS distance,
      CAST(COALESCE(b.ncand, 0) AS BIGINT) AS n_candidates,
      (b.mid IS NOT NULL) AS matched
    FROM (SELECT id FROM pn WHERE length(nrm) > 0) pr
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON pr.id = b.pid"""


def q_linkage_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-reorder record linkage (operators.linkage.record_linkage
    with token_block=True): master names are '<segment> <custkey>'
    two-token identities (selective SUFFIX — the custkey digits; the
    shared-segment PREFIX blocks are degenerate and the 50k pair cap
    drops them, exactly the record_linkage hot-block story); the probe
    feed reorders to '<custkey> <segment>' (custkey%3=0) or reorders
    AND typos the segment (custkey%3=1 — one substitution at segment
    char 5, always outside the 6-char sorted-form prefix because the
    leading number token is at least 1 char), leaves case/whitespace
    noise only (else — these match at distance 0 through the selective
    suffix pass), and injects an unlinkable 'Unreg' identity every
    11th key. Reorders defeat the prefix pass, the suffix pass AND
    plain Levenshtein; the sorted-token third pass (digit-led, so
    never degenerate) recovers them at distance 0 (pure reorder) or 1
    (reorder+typo)."""
    from pyspark_data_drift_detector_spark.operators.linkage import (
        record_linkage,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    master = cust.selectExpr(
        "c_custkey AS id",
        "concat(c_mktsegment, ' ', CAST(c_custkey AS STRING)) AS name",
    )
    probe = cust.selectExpr(
        "c_custkey + 3000000 AS id",
        "CASE WHEN c_custkey % 11 = 0"
        " THEN concat('Unreg ', CAST(c_custkey * 7 AS STRING))"
        " WHEN c_custkey % 3 = 0"
        " THEN concat(CAST(c_custkey AS STRING), ' ', c_mktsegment)"
        " WHEN c_custkey % 3 = 1"
        " THEN concat(CAST(c_custkey AS STRING), ' ',"
        "             substring(c_mktsegment, 1, 4), 'x',"
        "             substring(c_mktsegment, 6))"
        " ELSE concat(upper(c_mktsegment), ' ',"
        "             CAST(c_custkey AS STRING), '  ') END AS name",
    )
    return record_linkage(
        probe, master, prefix_len=6, suffix_len=6, band_width=8,
        max_distance=2, compare_len=32, max_block_pairs=50000,
        token_block=True,
    )


def _linkage_tokens_sql(
    cap: int = 50000, dist: int = 2, pre: int = 6, suf: int = 6,
    bw: int = 8, cmp_len: int = 32,
) -> str:
    return f"""
    WITH master AS (
      SELECT c_custkey AS id,
             c_mktsegment || ' ' || CAST(c_custkey AS VARCHAR) AS name
      FROM customer),
    probe AS (
      SELECT c_custkey + 3000000 AS id,
        CASE WHEN c_custkey % 11 = 0
             THEN 'Unreg ' || CAST(c_custkey * 7 AS VARCHAR)
             WHEN c_custkey % 3 = 0
             THEN CAST(c_custkey AS VARCHAR) || ' ' || c_mktsegment
             WHEN c_custkey % 3 = 1
             THEN CAST(c_custkey AS VARCHAR) || ' ' ||
                  substring(c_mktsegment, 1, 4) || 'x' ||
                  substring(c_mktsegment, 6)
             ELSE upper(c_mktsegment) || ' ' ||
                  CAST(c_custkey AS VARCHAR) || '  ' END AS name
      FROM customer),
    mn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM master),
    pn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM probe),
    mt AS (SELECT id, nrm,
             array_to_string(list_sort(string_split(nrm, ' ')), ' ')
               AS srt FROM mn),
    pt AS (SELECT id, nrm,
             array_to_string(list_sort(string_split(nrm, ' ')), ' ')
               AS srt FROM pn),
    mk AS (
      SELECT id, substring(nrm, 1, {cmp_len}) AS prb,
        substring(srt, 1, {cmp_len}) AS tprb, length(nrm) AS len,
        UNNEST(['p#' || substring(nrm, 1, {pre}) || '#' ||
                  CAST(CAST(FLOOR(length(nrm) / {bw}.0) AS BIGINT)
                       AS VARCHAR),
                's#' || right(nrm, {suf}),
                't#' || substring(srt, 1, {pre}) || '#' ||
                  CAST(CAST(FLOOR(length(nrm) / {bw}.0) AS BIGINT)
                       AS VARCHAR)]) AS blk
      FROM mt WHERE length(nrm) > 0),
    pk AS (
      SELECT id, substring(nrm, 1, {cmp_len}) AS prb,
        substring(srt, 1, {cmp_len}) AS tprb, length(nrm) AS len,
        UNNEST(list_concat(
          list_append(
            list_transform(
              generate_series(
                CAST(FLOOR((length(nrm) - {dist}) / {bw}.0) AS BIGINT),
                CAST(FLOOR((length(nrm) + {dist}) / {bw}.0) AS BIGINT)),
              b -> 'p#' || substring(nrm, 1, {pre}) || '#' ||
                   CAST(b AS VARCHAR)),
            's#' || right(nrm, {suf})),
          list_transform(
            generate_series(
              CAST(FLOOR((length(nrm) - {dist}) / {bw}.0) AS BIGINT),
              CAST(FLOOR((length(nrm) + {dist}) / {bw}.0) AS BIGINT)),
            b -> 't#' || substring(srt, 1, {pre}) || '#' ||
                 CAST(b AS VARCHAR)))) AS blk
      FROM pt WHERE length(nrm) > 0),
    pc AS (SELECT blk, COUNT(*) AS c FROM pk GROUP BY 1),
    mc AS (SELECT blk, COUNT(*) AS c FROM mk GROUP BY 1),
    ok AS (SELECT pc.blk FROM pc JOIN mc ON pc.blk = mc.blk
           WHERE pc.c * mc.c <= {cap}),
    cand AS (
      SELECT DISTINCT p.id AS pid, m.id AS mid, p.prb AS pp, m.prb AS mp,
                      p.tprb AS ptp, m.tprb AS mtp,
                      p.len AS pl, m.len AS ml
      FROM pk p JOIN ok o ON p.blk = o.blk
      JOIN mk m ON m.blk = p.blk),
    ver AS (
      SELECT pid, mid,
        LEAST(levenshtein(pp, mp), levenshtein(ptp, mtp)) AS distance
      FROM cand
      WHERE ABS(pl - ml) <= {dist}
        AND LEAST(levenshtein(pp, mp), levenshtein(ptp, mtp)) <= {dist}),
    best AS (
      SELECT pid, mid, distance,
        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY distance, mid) AS rn,
        COUNT(*) OVER (PARTITION BY pid) AS ncand
      FROM ver)
    SELECT pr.id AS probe_id, b.mid AS master_id,
      CAST(b.distance AS BIGINT) AS distance,
      CAST(COALESCE(b.ncand, 0) AS BIGINT) AS n_candidates,
      (b.mid IS NOT NULL) AS matched
    FROM (SELECT id FROM pn WHERE length(nrm) > 0) pr
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON pr.id = b.pid"""


def q_blocking_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality pre-flight panel
    (operators.linkage.blocking_report) over the record_linkage demo
    feed: keyed-row volumes, joinable/one-sided block counts, the
    EXACT candidate-join pair product, hot-block skew, and what the
    50k pair cap would drop (the degenerate shared 'customer#' prefix
    block carries nearly all of the product — capped_pair_share makes
    that visible before the join runs)."""
    from pyspark_data_drift_detector_spark.operators.linkage import (
        blocking_report,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    master = cust.selectExpr("c_custkey AS id", "c_name AS name")
    probe = cust.selectExpr(
        "c_custkey + 1000000 AS id",
        "CASE WHEN c_custkey % 11 = 0"
        " THEN concat('Unreg ', CAST(c_custkey * 7 AS STRING))"
        " WHEN c_custkey % 3 = 0"
        " THEN concat(substring(c_name, 1, 10), substring(c_name, 12))"
        " WHEN c_custkey % 3 = 1"
        " THEN concat(substring(c_name, 1, 11), 'x', substring(c_name, 13))"
        " ELSE concat(upper(c_name), '  ') END AS name",
    )
    return _round_cols(
        blocking_report(
            probe, master, prefix_len=6, suffix_len=6, band_width=8,
            max_distance=2, compare_len=32, max_block_pairs=50000,
        ),
        ["value"],
    )


def _blocking_report_sql(
    cap: int = 50000, dist: int = 2, pre: int = 6, suf: int = 6,
    bw: int = 8, cmp_len: int = 32,
) -> str:
    return f"""
    WITH master AS (SELECT c_custkey AS id, c_name AS name FROM customer),
    probe AS (
      SELECT c_custkey + 1000000 AS id,
        CASE WHEN c_custkey % 11 = 0
             THEN 'Unreg ' || CAST(c_custkey * 7 AS VARCHAR)
             WHEN c_custkey % 3 = 0
             THEN substring(c_name, 1, 10) || substring(c_name, 12)
             WHEN c_custkey % 3 = 1
             THEN substring(c_name, 1, 11) || 'x' || substring(c_name, 13)
             ELSE upper(c_name) || '  ' END AS name
      FROM customer),
    mn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM master),
    pn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM probe),
    mk AS (
      SELECT id,
        UNNEST(['p#' || substring(nrm, 1, {pre}) || '#' ||
                  CAST(CAST(FLOOR(length(nrm) / {bw}.0) AS BIGINT)
                       AS VARCHAR),
                's#' || right(nrm, {suf})]) AS blk
      FROM mn WHERE length(nrm) > 0),
    pk AS (
      SELECT id,
        UNNEST(list_append(
          list_transform(
            generate_series(
              CAST(FLOOR((length(nrm) - {dist}) / {bw}.0) AS BIGINT),
              CAST(FLOOR((length(nrm) + {dist}) / {bw}.0) AS BIGINT)),
            b -> 'p#' || substring(nrm, 1, {pre}) || '#' ||
                 CAST(b AS VARCHAR)),
          's#' || right(nrm, {suf}))) AS blk
      FROM pn WHERE length(nrm) > 0),
    pc AS (SELECT blk, COUNT(*) AS c FROM pk GROUP BY 1),
    mc AS (SELECT blk, COUNT(*) AS c FROM mk GROUP BY 1),
    j AS (
      SELECT pc.c AS pcc, mc.c AS mcc, pc.c * mc.c AS pp
      FROM pc FULL OUTER JOIN mc ON pc.blk = mc.blk),
    agg AS (
      SELECT
        CAST(SUM(pcc) AS DOUBLE) AS n_probe_rows,
        CAST(SUM(mcc) AS DOUBLE) AS n_master_rows,
        CAST(SUM(CASE WHEN pcc IS NOT NULL AND mcc IS NOT NULL
                 THEN 1 ELSE 0 END) AS DOUBLE) AS n_blocks_joinable,
        CAST(SUM(CASE WHEN mcc IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          AS n_blocks_probe_only,
        CAST(SUM(CASE WHEN pcc IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          AS n_blocks_master_only,
        CAST(COALESCE(SUM(pp), 0) AS DOUBLE) AS total_pair_product,
        CAST(COALESCE(MAX(pp), 0) AS DOUBLE) AS max_block_pair_product,
        CAST(SUM(CASE WHEN pp > {cap} THEN 1 ELSE 0 END) AS DOUBLE)
          AS n_capped_blocks,
        CAST(COALESCE(SUM(CASE WHEN pp > {cap} THEN pp END), 0)
             AS DOUBLE) AS capped_pair_product
      FROM j)
    SELECT 'n_probe_rows' AS metric, ROUND(n_probe_rows, {ROUND}) AS value
    FROM agg
    UNION ALL SELECT 'n_master_rows', ROUND(n_master_rows, {ROUND}) FROM agg
    UNION ALL SELECT 'n_blocks_joinable', ROUND(n_blocks_joinable, {ROUND})
    FROM agg
    UNION ALL SELECT 'n_blocks_probe_only',
      ROUND(n_blocks_probe_only, {ROUND}) FROM agg
    UNION ALL SELECT 'n_blocks_master_only',
      ROUND(n_blocks_master_only, {ROUND}) FROM agg
    UNION ALL SELECT 'total_pair_product',
      ROUND(total_pair_product, {ROUND}) FROM agg
    UNION ALL SELECT 'max_block_pair_product',
      ROUND(max_block_pair_product, {ROUND}) FROM agg
    UNION ALL SELECT 'top_block_share',
      CASE WHEN total_pair_product > 0
           THEN ROUND(max_block_pair_product / total_pair_product,
                      {ROUND}) END FROM agg
    UNION ALL SELECT 'n_capped_blocks', ROUND(n_capped_blocks, {ROUND})
    FROM agg
    UNION ALL SELECT 'capped_pair_share',
      CASE WHEN total_pair_product > 0
           THEN ROUND(capped_pair_product / total_pair_product,
                      {ROUND}) END FROM agg"""


def q_linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution member of the vet-the-increment family
    (operators.linkage.record_linkage_incremental): today's
    registration batch — typo'd re-registrations of existing masters
    (custkey%7=0), genuinely new entities ('Newco', custkey%13=0) and
    a duplicate registration of each even Newco (custkey%26=0, one
    trailing edit) — resolved against the customer master's compact
    linkage_state. Masters match, batch twins flag dup_in_batch, and
    exactly one row per new entity mints (is_new)."""
    from pyspark_data_drift_detector_spark.operators.linkage import (
        linkage_state,
        record_linkage_incremental,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    master = cust.selectExpr("c_custkey AS id", "c_name AS name")
    state = linkage_state(
        master, "name", "id", prefix_len=6, suffix_len=6, band_width=8,
        compare_len=32,
    )
    typos = cust.filter("c_custkey % 7 = 0").selectExpr(
        "c_custkey + 2000000 AS id",
        "concat(substring(c_name, 1, 11), 'x', substring(c_name, 13))"
        " AS name",
    )
    # the duplicate-registration twin edits the MIDDLE of the name
    # ('o' -> '0' at position 8): prefix and suffix both survive, so
    # the pair blocks through the SELECTIVE per-key suffix key even
    # when the hot shared-prefix block is capped away
    newcos = cust.filter("c_custkey % 13 = 0").selectExpr(
        "c_custkey + 3000000 AS id",
        "concat('Newco Holdings ', CAST(c_custkey AS STRING)) AS name",
    )
    dup_regs = cust.filter("c_custkey % 26 = 0").selectExpr(
        "c_custkey + 4000000 AS id",
        "concat('Newco H0ldings ', CAST(c_custkey AS STRING)) AS name",
    )
    batch = typos.unionByName(newcos).unionByName(dup_regs)
    return record_linkage_incremental(
        batch, state, "name", "id", prefix_len=6, suffix_len=6,
        band_width=8, max_distance=2, compare_len=32,
        max_block_pairs=50000,
    )


def _linkage_incremental_sql(
    cap: int = 50000, dist: int = 2, pre: int = 6, suf: int = 6,
    bw: int = 8, cmp_len: int = 32,
) -> str:
    return f"""
    WITH master AS (SELECT c_custkey AS id, c_name AS name FROM customer),
    batch AS (
      SELECT c_custkey + 2000000 AS id,
             substring(c_name, 1, 11) || 'x' || substring(c_name, 13) AS name
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 3000000,
             'Newco Holdings ' || CAST(c_custkey AS VARCHAR)
      FROM customer WHERE c_custkey % 13 = 0
      UNION ALL
      SELECT c_custkey + 4000000,
             'Newco H0ldings ' || CAST(c_custkey AS VARCHAR)
      FROM customer WHERE c_custkey % 26 = 0),
    mn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM master),
    pn AS (SELECT id, regexp_replace(lower(trim(name)), '\\s+', ' ', 'g')
                    AS nrm FROM batch),
    mk AS (
      SELECT id, substring(nrm, 1, {cmp_len}) AS prb, length(nrm) AS len,
        UNNEST(['p#' || substring(nrm, 1, {pre}) || '#' ||
                  CAST(CAST(FLOOR(length(nrm) / {bw}.0) AS BIGINT) AS VARCHAR),
                's#' || right(nrm, {suf})]) AS blk
      FROM mn WHERE length(nrm) > 0),
    pk AS (
      SELECT id, substring(nrm, 1, {cmp_len}) AS prb, length(nrm) AS len,
        UNNEST(list_append(
          list_transform(
            generate_series(
              CAST(FLOOR((length(nrm) - {dist}) / {bw}.0) AS BIGINT),
              CAST(FLOOR((length(nrm) + {dist}) / {bw}.0) AS BIGINT)),
            b -> 'p#' || substring(nrm, 1, {pre}) || '#' ||
                 CAST(b AS VARCHAR)),
          's#' || right(nrm, {suf}))) AS blk
      FROM pn WHERE length(nrm) > 0),
    pc AS (SELECT blk, COUNT(*) AS c FROM pk GROUP BY 1),
    mc AS (SELECT blk, COUNT(*) AS c FROM mk GROUP BY 1),
    ok AS (SELECT pc.blk FROM pc JOIN mc ON pc.blk = mc.blk
           WHERE pc.c * mc.c <= {cap}),
    cand AS (
      SELECT DISTINCT p.id AS pid, m.id AS mid, p.prb AS pp, m.prb AS mp,
                      p.len AS pl, m.len AS ml
      FROM pk p JOIN ok o ON p.blk = o.blk JOIN mk m ON m.blk = p.blk),
    ver AS (
      SELECT pid, mid, levenshtein(pp, mp) AS distance
      FROM cand
      WHERE ABS(pl - ml) <= {dist} AND levenshtein(pp, mp) <= {dist}),
    best AS (
      SELECT pid, mid, distance,
        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY distance, mid) AS rn
      FROM ver),
    self_ok AS (
      SELECT blk FROM pc WHERE c * c <= {cap}),
    spk AS (SELECT pk.* FROM pk JOIN self_ok USING (blk)),
    selfhits AS (
      SELECT DISTINCT a.id
      FROM spk a JOIN spk e ON a.blk = e.blk AND e.id < a.id
      WHERE ABS(a.len - e.len) <= {dist}
        AND levenshtein(a.prb, e.prb) <= {dist}),
    linked AS (
      SELECT pr.id AS probe_id, b.mid AS master_id,
        CAST(b.distance AS BIGINT) AS distance,
        (b.mid IS NOT NULL) AS matched_master
      FROM (SELECT id FROM pn WHERE length(nrm) > 0) pr
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON pr.id = b.pid)
    SELECT l.probe_id, l.master_id, l.distance, l.matched_master,
      (s.id IS NOT NULL) AS dup_in_batch,
      (NOT l.matched_master AND s.id IS NULL) AS is_new
    FROM linked l LEFT JOIN selfhits s ON l.probe_id = s.id"""


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival (operators.temporal.survival_curve): user
    lifetime measured on purchase activity — a user has churned when
    their last purchase is > 2 days before the observation end,
    otherwise they are right-censored (still buying). Output: the
    product-limit table per duration day."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        survival_curve,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "event_type = 'purchase'"
    )
    return _round_cols(survival_curve(ev, censor_days=2), ["survival"])


def _survival_curve_sql(censor_days: int = 2, rounded: bool = True) -> str:
    # rounded=False serves composing oracles (survival_report) that
    # COMPARE survival against thresholds: they must see the same raw
    # values the Spark operator compares, not round-5 projections
    _r = ROUND if rounded else 12
    return f"""
    WITH ev AS (
      SELECT user_id AS u, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e
      FROM events
      WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND ts IS NOT NULL),
    users AS (SELECT u, MIN(e) AS e0, MAX(e) AS e1 FROM ev GROUP BY u),
    b AS (SELECT MAX(e1) AS obs_end FROM users),
    lt AS (
      SELECT
        CASE WHEN u.e1 < b.obs_end - {censor_days} * 86400
             THEN (u.e1 - u.e0) // 86400
             ELSE (b.obs_end - u.e0) // 86400 END AS duration_days,
        CASE WHEN u.e1 < b.obs_end - {censor_days} * 86400
             THEN 1 ELSE 0 END AS churned
      FROM users u CROSS JOIN b),
    bd AS (
      SELECT duration_days,
        CAST(SUM(churned) AS BIGINT) AS n_churned,
        CAST(SUM(1 - churned) AS BIGINT) AS n_censored,
        COUNT(*) AS n_total
      FROM lt GROUP BY 1),
    r AS (
      SELECT duration_days, n_churned, n_censored,
        CAST(SUM(n_total) OVER (ORDER BY duration_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS at_risk
      FROM bd)
    SELECT CAST(duration_days AS BIGINT) AS duration_days, at_risk,
      n_churned, n_censored,
      ROUND(exp(SUM(CASE WHEN n_churned >= at_risk
                    THEN CAST('-Infinity' AS DOUBLE)
                    ELSE ln(1.0 - n_churned / CAST(at_risk AS DOUBLE)) END)
            OVER (ORDER BY duration_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            {_r}) AS survival
    FROM r"""


def q_survival_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival health panel (operators.temporal.survival_report) over
    the purchase-activity Kaplan-Meier curve: lifetimes observed,
    churn vs censoring split, median survival (first duration at or
    under 0.5), and the 7/30-day horizon reads. The oracle composes
    the (unrounded) survival-curve oracle as a subquery, so the
    threshold comparisons see the same raw values on both engines."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        survival_curve,
        survival_report,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "event_type = 'purchase'"
    )
    return _round_cols(
        survival_report(survival_curve(ev, censor_days=2)), ["value"]
    )


def _survival_report_sql() -> str:
    return f"""
    WITH curve AS ({_survival_curve_sql(rounded=False)}),
    a AS (
      SELECT CAST(SUM(n_churned + n_censored) AS DOUBLE) AS n_users,
        CAST(SUM(n_churned) AS DOUBLE) AS n_ch,
        CAST(MIN(CASE WHEN survival <= 0.5 THEN duration_days END)
             AS DOUBLE) AS med,
        MAX(CASE WHEN duration_days <= 7 THEN duration_days END) AS d7,
        MAX(CASE WHEN duration_days <= 30 THEN duration_days END) AS d30
      FROM curve)
    SELECT 'n_users' AS metric, ROUND(n_users, {ROUND}) AS value FROM a
    UNION ALL SELECT 'n_churned', ROUND(n_ch, {ROUND}) FROM a
    UNION ALL SELECT 'churn_rate', ROUND(n_ch / n_users, {ROUND}) FROM a
    UNION ALL SELECT 'censoring_rate',
      ROUND((n_users - n_ch) / n_users, {ROUND}) FROM a
    UNION ALL SELECT 'median_survival_days', ROUND(med, {ROUND}) FROM a
    UNION ALL SELECT 'survival_7d',
      ROUND(COALESCE(
        (SELECT survival FROM curve, a WHERE duration_days = a.d7),
        1.0), {ROUND}) FROM a
    UNION ALL SELECT 'survival_30d',
      ROUND(COALESCE(
        (SELECT survival FROM curve, a WHERE duration_days = a.d30),
        1.0), {ROUND}) FROM a"""


def q_survival_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort Kaplan-Meier (operators.temporal.survival_curve with
    group_col): users cohorted by their FIRST event's type (ties by
    min type — deterministic), one product-limit curve per cohort
    under a GLOBAL observation window. The oracle resolves the
    first-event cohort with a row_number window (an independent
    formulation of the operator's min-struct aggregate)."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        survival_curve,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _round_cols(
        survival_curve(ev, censor_days=2, group_col="event_type"),
        ["survival"],
    )


def _survival_grouped_sql(censor_days: int = 2) -> str:
    return f"""
    WITH ev AS (
      SELECT user_id AS u, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
             event_type AS g
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    rk AS (
      SELECT u, g,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY e, g) AS r
      FROM ev),
    fg AS (SELECT u, g FROM rk WHERE r = 1),
    users AS (SELECT u, MIN(e) AS e0, MAX(e) AS e1 FROM ev GROUP BY u),
    b AS (SELECT MAX(e1) AS obs_end FROM users),
    lt AS (
      SELECT fg.g,
        CASE WHEN u.e1 < b.obs_end - {censor_days} * 86400
             THEN (u.e1 - u.e0) // 86400
             ELSE (b.obs_end - u.e0) // 86400 END AS duration_days,
        CASE WHEN u.e1 < b.obs_end - {censor_days} * 86400
             THEN 1 ELSE 0 END AS churned
      FROM users u JOIN fg ON fg.u = u.u CROSS JOIN b),
    bd AS (
      SELECT g, duration_days,
        CAST(SUM(churned) AS BIGINT) AS n_churned,
        CAST(SUM(1 - churned) AS BIGINT) AS n_censored,
        COUNT(*) AS n_total
      FROM lt GROUP BY 1, 2),
    r AS (
      SELECT g, duration_days, n_churned, n_censored,
        CAST(SUM(n_total) OVER (PARTITION BY g ORDER BY duration_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS at_risk
      FROM bd)
    SELECT g AS event_type,
      CAST(duration_days AS BIGINT) AS duration_days, at_risk,
      n_churned, n_censored,
      ROUND(exp(SUM(CASE WHEN n_churned >= at_risk
                    THEN CAST('-Infinity' AS DOUBLE)
                    ELSE ln(1.0 - n_churned / CAST(at_risk AS DOUBLE)) END)
            OVER (PARTITION BY g ORDER BY duration_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            {ROUND}) AS survival
    FROM r"""


def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-bucket downsampling (operators.temporal.
    ohlc_downsample): per (event_type, hour) candlesticks over the
    events stream — first/last by (ts, event_id), extremes, count,
    mean. One hash exchange feeds both row_number windows and the
    final groupBy."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        ohlc_downsample,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _round_cols(
        ohlc_downsample(ev, bucket="hour"),
        ["open", "high", "low", "close", "mean"],
    )


def _ohlc_downsample_sql() -> str:
    return f"""
    WITH src AS (
      SELECT event_type AS k, value AS v, event_id AS i, ts AS t,
             date_trunc('hour', ts) AS b
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    rn AS (
      SELECT k, b, v,
        ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY t, i) AS ra,
        ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY t DESC, i DESC) AS rd
      FROM src)
    SELECT k AS event_type,
      strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
      ROUND(MAX(CASE WHEN ra = 1 THEN v END), {ROUND}) AS open,
      ROUND(MAX(v), {ROUND}) AS high,
      ROUND(MIN(v), {ROUND}) AS low,
      ROUND(MAX(CASE WHEN rd = 1 THEN v END), {ROUND}) AS close,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(COUNT(v) AS BIGINT) AS n_values,
      ROUND(AVG(v), {ROUND}) AS mean
    FROM rn GROUP BY k, b"""


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence/activity segmentation (operators.multimodal.
    audio_segments): real WAV payloads (the attach_synthetic_audio
    closed form, 2000 samples) decoded by the RIFF walk and reduced to
    the VAD-style structural panel — qualifying silence runs, active
    segments after closing sub-min_run gaps, edge silences. Counts are
    exact integers, so the oracle replays them with gaps-and-islands
    SQL over the closed form."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        audio_segments,
    )

    ids = _documents(spark, sf_dir).select("doc_id").filter("doc_id < 300")
    aud = attach_synthetic_audio(ids, n_samples=2000)
    out = audio_segments(aud, silence_threshold=200, min_run=16)
    return _round_cols(
        out.select(
            "doc_id", "n_samples", "silence_ratio", "n_silence_runs",
            "longest_silence", "n_segments", "leading_silence",
            "trailing_silence",
        ),
        ["silence_ratio"],
    )


def _audio_segments_sql(
    n: int = 2000, thr: int = 200, min_run: int = 16,
) -> str:
    return f"""
    WITH ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 300),
    s AS (
      SELECT d.doc_id, r.i,
        (ABS(((d.doc_id * 37 + r.i * 11) % 4001) - 2000) < {thr}) AS sil
      FROM ids d CROSS JOIN range({n}) r(i)),
    runs AS (
      SELECT doc_id, sil, MIN(i) AS st, COUNT(*) AS len,
             MIN(i) + COUNT(*) AS en
      FROM (SELECT doc_id, i, sil,
              i - ROW_NUMBER() OVER (PARTITION BY doc_id, sil ORDER BY i)
                AS g
            FROM s) t
      GROUP BY doc_id, sil, g),
    agg AS (
      SELECT doc_id,
        SUM(CASE WHEN sil THEN len ELSE 0 END) AS n_sil,
        COALESCE(MAX(CASE WHEN sil THEN len END), 0) AS longest,
        SUM(CASE WHEN sil AND len >= {min_run} THEN 1 ELSE 0 END) AS nruns,
        SUM(CASE WHEN NOT sil THEN 1 ELSE 0 END)
          - SUM(CASE WHEN sil AND len < {min_run} AND st > 0 AND en < {n}
                     THEN 1 ELSE 0 END) AS nseg,
        COALESCE(MAX(CASE WHEN sil AND st = 0 THEN len END), 0) AS lead,
        COALESCE(MAX(CASE WHEN sil AND en = {n} THEN len END), 0) AS trail
      FROM runs GROUP BY doc_id)
    SELECT doc_id, CAST({n} AS BIGINT) AS n_samples,
      ROUND(n_sil / {n}.0, {ROUND}) AS silence_ratio,
      CAST(nruns AS BIGINT) AS n_silence_runs,
      CAST(longest AS BIGINT) AS longest_silence,
      CAST(nseg AS BIGINT) AS n_segments,
      CAST(lead AS BIGINT) AS leading_silence,
      CAST(trail AS BIGINT) AS trailing_silence
    FROM agg"""


def q_survival_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis as MERGEABLE STATE (operators.temporal.
    survival_state / merge_survival_states / survival_from_state):
    per-user (first, last) activity epochs are additive under min/max,
    so the nightly KM refresh merges the prior state with the day
    batch's state and redraws the curve from O(users) rows — the event
    corpus is read once per batch, never historically. The oracle is
    the FULL single-pass KM over the union: merge-equals-recompute is
    the correctness claim."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        merge_survival_states,
        survival_from_state,
        survival_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "event_type = 'error'"
    )
    prior = survival_state(ev.filter("ts < TIMESTAMP '2024-01-21'"))
    batch = survival_state(ev.filter("ts >= TIMESTAMP '2024-01-21'"))
    merged = merge_survival_states(prior, batch)
    return _round_cols(
        survival_from_state(merged, censor_days=3), ["survival"]
    )


def _survival_incremental_sql(censor_days: int = 3) -> str:
    return f"""
    WITH ev AS (
      SELECT user_id AS u, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e
      FROM events
      WHERE event_type = 'error'
        AND user_id IS NOT NULL AND ts IS NOT NULL),
    users AS (SELECT u, MIN(e) AS e0, MAX(e) AS e1 FROM ev GROUP BY u),
    b AS (SELECT MAX(e1) AS obs_end FROM users),
    lt AS (
      SELECT
        CASE WHEN u.e1 < b.obs_end - {censor_days} * 86400
             THEN (u.e1 - u.e0) // 86400
             ELSE (b.obs_end - u.e0) // 86400 END AS duration_days,
        CASE WHEN u.e1 < b.obs_end - {censor_days} * 86400
             THEN 1 ELSE 0 END AS churned
      FROM users u CROSS JOIN b),
    bd AS (
      SELECT duration_days,
        CAST(SUM(churned) AS BIGINT) AS n_churned,
        CAST(SUM(1 - churned) AS BIGINT) AS n_censored,
        COUNT(*) AS n_total
      FROM lt GROUP BY 1),
    r AS (
      SELECT duration_days, n_churned, n_censored,
        CAST(SUM(n_total) OVER (ORDER BY duration_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS at_risk
      FROM bd)
    SELECT CAST(duration_days AS BIGINT) AS duration_days, at_risk,
      n_churned, n_censored,
      ROUND(exp(SUM(CASE WHEN n_churned >= at_risk
                    THEN CAST('-Infinity' AS DOUBLE)
                    ELSE ln(1.0 - n_churned / CAST(at_risk AS DOUBLE)) END)
            OVER (ORDER BY duration_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            {ROUND}) AS survival
    FROM r"""


def q_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsample cascade (operators.temporal.ohlc_rollup): the
    hourly candlestick panel rolled up to days WITHOUT re-reading raw
    events — cells are mergeable (open-of-earliest, close-of-latest,
    extreme of extremes, count-weighted mean). The oracle replays the
    same two-stage computation, pinning that the cascade loses
    nothing vs a day-level pass."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        ohlc_downsample,
        ohlc_rollup,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # roll up from the ROUNDED panel — the at-rest scenario (stored
    # candlesticks carry 5-decimal floats), and the rounding is the
    # cross-engine equality proven by the ohlc_downsample oracle
    hourly = _round_cols(
        ohlc_downsample(ev, bucket="hour"),
        ["open", "high", "low", "close", "mean"],
    )
    rolled = ohlc_rollup(hourly, to_bucket="day")
    # the weighted day mean can land within one ulp of a 5-decimal
    # midpoint (x.xxxxx5), where Spark's BigDecimal HALF_UP and
    # DuckDB's float-domain round disagree; round through 7 decimals
    # first (both sides identically) to step off the knife edge
    rolled = rolled.withColumn("mean", F.round(F.round("mean", 7), ROUND))
    return _round_cols(rolled, ["open", "high", "low", "close"])


def _ohlc_rollup_sql() -> str:
    return f"""
    WITH src AS (
      SELECT event_type AS k, value AS v, event_id AS i, ts AS t,
             date_trunc('hour', ts) AS b
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    rn AS (
      SELECT k, b, v,
        ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY t, i) AS ra,
        ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY t DESC, i DESC) AS rd
      FROM src),
    hourly AS (
      SELECT k, b AS hb,
        ROUND(MAX(CASE WHEN ra = 1 THEN v END), {ROUND}) AS open,
        ROUND(MAX(v), {ROUND}) AS high, ROUND(MIN(v), {ROUND}) AS low,
        ROUND(MAX(CASE WHEN rd = 1 THEN v END), {ROUND}) AS close,
        COUNT(*) AS n_events, COUNT(v) AS n_values,
        ROUND(AVG(v), {ROUND}) AS mean
      FROM rn GROUP BY k, b),
    rn2 AS (
      SELECT k, date_trunc('day', hb) AS db, open, high, low, close,
        n_events, n_values, mean,
        ROW_NUMBER() OVER (PARTITION BY k, date_trunc('day', hb)
                           ORDER BY hb) AS ra,
        ROW_NUMBER() OVER (PARTITION BY k, date_trunc('day', hb)
                           ORDER BY hb DESC) AS rd,
        SUM(mean * n_values) OVER (
          PARTITION BY k, date_trunc('day', hb) ORDER BY hb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cwm
      FROM hourly)
    SELECT k AS event_type,
      strftime(db, '%Y-%m-%d %H:%M:%S') AS bucket_start,
      ROUND(MAX(CASE WHEN ra = 1 THEN open END), {ROUND}) AS open,
      ROUND(MAX(high), {ROUND}) AS high,
      ROUND(MIN(low), {ROUND}) AS low,
      ROUND(MAX(CASE WHEN rd = 1 THEN close END), {ROUND}) AS close,
      CAST(SUM(n_events) AS BIGINT) AS n_events,
      CAST(SUM(n_values) AS BIGINT) AS n_values,
      CASE WHEN SUM(n_values) = 0 THEN NULL
           ELSE ROUND(ROUND(MAX(CASE WHEN rd = 1 THEN cwm END)
                  / CAST(SUM(n_values) AS DOUBLE), 7), {ROUND}) END AS mean
    FROM rn2 GROUP BY k, db"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration weighted PageRank (operators.graph.pagerank):
    supplier criticality from order flows — edges c:<custkey> →
    s:<suppkey> weighted by line count (orders ⋈ lineitem), 3 power
    iterations with exact dangling-mass redistribution (suppliers have
    no out-edges, so their rank recirculates uniformly). The oracle
    unrolls the same 3 iterations as CTEs, the kmeans_fit convention
    for iterative operators."""
    from pyspark_data_drift_detector_spark.operators.graph import pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .selectExpr(
            "concat('c:', CAST(o_custkey AS STRING)) AS src",
            "concat('s:', CAST(l_suppkey AS STRING)) AS dst",
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    out = pagerank(edges, weight_col="w", damping=0.85, n_iter=3)
    return _round_cols(out, ["rank"])


def _pagerank_sql(n_iter: int = 3) -> str:
    header = """
    WITH e0 AS (
      SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
             's:' || CAST(l_suppkey AS VARCHAR) AS dst,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    nodes AS (
      SELECT DISTINCT node FROM
        (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
    n AS (SELECT COUNT(*) AS nn FROM nodes),
    ow AS (SELECT src, SUM(w) AS ow FROM e0 GROUP BY 1),
    sh AS (SELECT e0.src, e0.dst, e0.w / ow.ow AS share
           FROM e0 JOIN ow ON e0.src = ow.src),
    r0 AS (SELECT node, 1.0 / nn AS rank FROM nodes CROSS JOIN n)"""
    steps = []
    for k in range(1, n_iter + 1):
        p = k - 1
        steps.append(f"""
    c{k} AS (
      SELECT sh.dst AS node, SUM(sh.share * r{p}.rank) AS inflow
      FROM sh JOIN r{p} ON sh.src = r{p}.node GROUP BY 1),
    d{k} AS (
      SELECT COALESCE(SUM(r{p}.rank), 0) AS dm
      FROM r{p} LEFT JOIN ow ON r{p}.node = ow.src
      WHERE ow.src IS NULL),
    r{k} AS (
      SELECT nodes.node,
        (1.0 - 0.85) / nn
          + 0.85 * (COALESCE(c{k}.inflow, 0) + d{k}.dm / nn) AS rank
      FROM nodes CROSS JOIN n CROSS JOIN d{k}
      LEFT JOIN c{k} ON nodes.node = c{k}.node)""")
    return (
        header
        + ","
        + ",".join(steps)
        + f"""
    SELECT node, ROUND(rank, {ROUND}) AS rank FROM r{n_iter}"""
    )


def q_scd2_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-history health panel (operators.scd.scd2_report) over
    a directly-constructed customer dimension: custkey%15 keys carry
    three versions ending soft-deleted, %3 keys two versions (open),
    %5 keys one closed version (soft-deleted), everyone else a single
    open version — so every metric (version velocity, single-version
    share, open vs deleted split, closed-row share, mean closed
    lifetime) has a closed-form oracle."""
    from pyspark_data_drift_detector_spark.operators.scd import scd2_report

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v1 = cust.selectExpr(
        "c_custkey AS k",
        "c_mktsegment AS seg",
        "TIMESTAMP '2024-01-01' AS valid_from",
        "CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2024-02-01'"
        " WHEN c_custkey % 5 = 0 THEN TIMESTAMP '2024-03-01'"
        " ELSE CAST(NULL AS TIMESTAMP) END AS valid_to",
        "c_custkey % 3 != 0 AND c_custkey % 5 != 0 AS is_current",
    )
    v2 = cust.filter("c_custkey % 3 = 0").selectExpr(
        "c_custkey AS k",
        "'B' AS seg",
        "TIMESTAMP '2024-02-01' AS valid_from",
        "CASE WHEN c_custkey % 15 = 0 THEN TIMESTAMP '2024-03-01'"
        " ELSE CAST(NULL AS TIMESTAMP) END AS valid_to",
        "c_custkey % 15 != 0 AS is_current",
    )
    dim = v1.unionByName(v2)
    return _round_cols(scd2_report(dim, "k"), ["value"])


def _scd2_report_sql() -> str:
    return f"""
    WITH dim AS (
      SELECT c_custkey AS k,
        TIMESTAMP '2024-01-01' AS vf,
        CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2024-02-01'
             WHEN c_custkey % 5 = 0 THEN TIMESTAMP '2024-03-01'
             ELSE NULL END AS vt,
        (c_custkey % 3 <> 0 AND c_custkey % 5 <> 0) AS cur
      FROM customer
      UNION ALL
      SELECT c_custkey,
        TIMESTAMP '2024-02-01',
        CASE WHEN c_custkey % 15 = 0 THEN TIMESTAMP '2024-03-01'
             ELSE NULL END,
        (c_custkey % 15 <> 0)
      FROM customer WHERE c_custkey % 3 = 0),
    per_key AS (
      SELECT k, COUNT(*) AS nv,
             MAX(CASE WHEN cur THEN 1 ELSE 0 END) AS has_open
      FROM dim GROUP BY 1),
    a AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
        CAST(SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS DOUBLE)
          AS n_closed,
        AVG(CASE WHEN vt IS NOT NULL
            THEN (epoch(vt) - epoch(vf)) / 86400.0 END)
          AS avg_closed_lifetime_days
      FROM dim),
    b AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_keys,
        AVG(CAST(nv AS DOUBLE)) AS versions_per_key_mean,
        CAST(MAX(nv) AS DOUBLE) AS versions_per_key_max,
        AVG(CASE WHEN nv = 1 THEN 1.0 ELSE 0.0 END)
          AS single_version_share,
        AVG(CAST(has_open AS DOUBLE)) AS open_share
      FROM per_key)
    SELECT 'n_rows' AS metric, ROUND(n_rows, {ROUND}) AS value FROM a
    UNION ALL SELECT 'n_keys', ROUND(n_keys, {ROUND}) FROM b
    UNION ALL SELECT 'versions_per_key_mean',
      ROUND(versions_per_key_mean, {ROUND}) FROM b
    UNION ALL SELECT 'versions_per_key_max',
      ROUND(versions_per_key_max, {ROUND}) FROM b
    UNION ALL SELECT 'single_version_share',
      ROUND(single_version_share, {ROUND}) FROM b
    UNION ALL SELECT 'open_share', ROUND(open_share, {ROUND}) FROM b
    UNION ALL SELECT 'closed_rows_share',
      ROUND(n_closed / n_rows, {ROUND}) FROM a, b
    UNION ALL SELECT 'avg_closed_lifetime_days',
      ROUND(avg_closed_lifetime_days, {ROUND}) FROM a"""


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected connected components
    (operators.graph.graph_components): each customer's orders linked
    into a CHAIN (consecutive orderkeys per customer — real multi-hop
    diameter, so the O(log d) pointer jumping is genuinely exercised,
    not a star graph it converges on in one round). Components are
    exactly "one customer's order set" (customers with >= 2 orders),
    which gives the oracle an INDEPENDENT semantic replay — a window
    over orders, no graph algorithm at all — rather than a
    re-implementation of the propagation."""
    from pyspark_data_drift_detector_spark.operators.graph import (
        graph_components,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        orders.select(
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            F.col("prev").alias("src"), F.col("o_orderkey").alias("dst")
        )
    )
    return graph_components(edges)


def _graph_components_sql() -> str:
    # independent semantic oracle: a chain connects ALL of a
    # customer's orders, so the component of any chained order is
    # exactly its customer's order set — min orderkey labels it, the
    # order count sizes it; customers with a single order contribute
    # no edge and therefore no node
    return """
    WITH sized AS (
      SELECT o_custkey, o_orderkey,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n,
             MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS mk
      FROM orders)
    SELECT o_orderkey AS node, mk AS component_id,
           CAST(n AS BIGINT) AS component_size
    FROM sized WHERE n >= 2"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering
    (operators.graph.graph_triangles) over a ring-with-chords graph on
    the customer keys: edges (k, k+1) everywhere and (k, k+2) when
    k%3 != 0 — a sparse graph with an organic mix of closed and open
    wedges (a triangle (k, k+1, k+2) exists exactly where the chord
    does), so clustering varies node by node instead of collapsing to
    one constant. The oracle counts triangles with the canonical
    ordered-triple triple-join — fully independent of the operator's
    degree-ordered orientation."""
    from pyspark_data_drift_detector_spark.operators.graph import (
        graph_triangles,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    mk = cust.agg(F.max("c_custkey").alias("mk"))
    base = cust.crossJoin(F.broadcast(mk))
    ring = base.filter("c_custkey + 1 <= mk").selectExpr(
        "c_custkey AS src", "c_custkey + 1 AS dst"
    )
    chords = base.filter(
        "c_custkey + 2 <= mk AND c_custkey % 3 != 0"
    ).selectExpr("c_custkey AS src", "c_custkey + 2 AS dst")
    return _round_cols(
        graph_triangles(ring.unionByName(chords)), ["clustering"]
    )


def _graph_triangles_sql() -> str:
    return """
    WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
    e AS (
      SELECT c_custkey AS a, c_custkey + 1 AS b FROM customer, mx
      WHERE c_custkey + 1 <= mk
      UNION
      SELECT c_custkey, c_custkey + 2 FROM customer, mx
      WHERE c_custkey + 2 <= mk AND c_custkey % 3 <> 0),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri),
    deg AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1),
    tc AS (SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY 1)
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
      CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
      CASE WHEN d.degree >= 2
           THEN ROUND(2.0 * COALESCE(tc.n_triangles, 0)
                      / (d.degree * (d.degree - 1.0)), 5)
           ELSE NULL END AS clustering
    FROM deg d LEFT JOIN tc ON tc.node = d.node"""


def q_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components
    (operators.graph.components_incremental): the customer-key path
    graph with breaks at multiples of 7 (edge k→k+1 exists iff
    k%7 != 0) arrives in two waves — the lower half builds the prior
    label state, the upper half is the batch (new nodes AND the
    bridging link at the boundary). The star-forest compression folds
    the batch into O(state+batch) input; the oracle is the closed-form
    run decomposition (component of k = k − ((k−1) mod 7)), fully
    independent of any propagation machinery."""
    from pyspark_data_drift_detector_spark.operators.graph import (
        components_incremental,
        graph_components,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    mk = cust.agg(F.max("c_custkey").alias("mk"))
    base = cust.crossJoin(F.broadcast(mk)).filter(
        "c_custkey % 7 != 0 AND c_custkey + 1 <= mk"
    )
    prior = base.filter("c_custkey <= mk DIV 2").selectExpr(
        "c_custkey AS src", "c_custkey + 1 AS dst"
    )
    batch = base.filter("c_custkey > mk DIV 2").selectExpr(
        "c_custkey AS src", "c_custkey + 1 AS dst"
    )
    state = graph_components(prior).drop("component_size")
    return components_incremental(batch, state)


def _components_incremental_sql() -> str:
    return """
    WITH mx AS (SELECT MAX(c_custkey) AS n FROM customer),
    nodes AS (
      SELECT c_custkey AS k FROM customer, mx
      WHERE (c_custkey % 7 <> 0 AND c_custkey + 1 <= n)
         OR (c_custkey > 1 AND (c_custkey - 1) % 7 <> 0)),
    comp AS (SELECT k, k - ((k - 1) % 7) AS cid FROM nodes),
    sz AS (SELECT cid, COUNT(*) AS s FROM comp GROUP BY 1)
    SELECT comp.k AS node, comp.cid AS component_id,
           CAST(sz.s AS BIGINT) AS component_size
    FROM comp JOIN sz ON sz.cid = comp.cid"""


def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 apply-changes (operators.scd.scd2_apply): the
    customer dimension versioned by a mixed upsert+DELETE CDC feed —
    segment reassignments (custkey%3), a second later change for
    custkey%9 (multi-change chaining), a feed row equal to the
    ORIGINAL segment for custkey%4 (a no-op unless an earlier change
    already moved the key — then it is a genuine revert), brand-new
    keys (+100000), tombstones for custkey%5 at 02-20 (close the
    in-effect version, open nothing), a SECOND delete for custkey%15
    at 03-05 (no-op when already deleted, a real close when the %9
    wave re-opened the key at 03-01), re-registrations for custkey%10
    at 03-10 (fresh chain after absence), and deletes of keys that
    never existed (+200000 — pure no-ops). Output: the full versioned
    dimension with validity intervals."""
    from pyspark_data_drift_detector_spark.operators.scd import scd2_apply

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim = cust.selectExpr(
        "c_custkey",
        "c_mktsegment",
        "TIMESTAMP '2024-01-01' AS valid_from",
        "CAST(NULL AS TIMESTAMP) AS valid_to",
        "true AS is_current",
    )
    changes = (
        cust.filter("c_custkey % 3 = 0")
        .selectExpr(
            "c_custkey",
            "concat('SEG-', CAST(c_custkey % 7 AS STRING)) AS c_mktsegment",
            "TIMESTAMP '2024-02-01' AS effective_ts",
            "'upsert' AS op",
        )
        .unionByName(
            cust.filter("c_custkey % 9 = 0").selectExpr(
                "c_custkey",
                "concat('SEG-', CAST(c_custkey % 5 AS STRING))"
                " AS c_mktsegment",
                "TIMESTAMP '2024-03-01' AS effective_ts",
                "'upsert' AS op",
            )
        )
        .unionByName(
            cust.filter("c_custkey % 4 = 0").selectExpr(
                "c_custkey", "c_mktsegment",
                "TIMESTAMP '2024-02-15' AS effective_ts",
                "'upsert' AS op",
            )
        )
        .unionByName(
            cust.filter("c_custkey % 50 = 0").selectExpr(
                "c_custkey + 100000 AS c_custkey",
                "'NEW' AS c_mktsegment",
                "TIMESTAMP '2024-02-10' AS effective_ts",
                "'upsert' AS op",
            )
        )
        .unionByName(
            cust.filter("c_custkey % 5 = 0").selectExpr(
                "c_custkey",
                "CAST(NULL AS STRING) AS c_mktsegment",
                "TIMESTAMP '2024-02-20' AS effective_ts",
                "'delete' AS op",
            )
        )
        .unionByName(
            cust.filter("c_custkey % 15 = 0").selectExpr(
                "c_custkey",
                "CAST(NULL AS STRING) AS c_mktsegment",
                "TIMESTAMP '2024-03-05' AS effective_ts",
                "'delete' AS op",
            )
        )
        .unionByName(
            cust.filter("c_custkey % 10 = 0").selectExpr(
                "c_custkey",
                "'BACK' AS c_mktsegment",
                "TIMESTAMP '2024-03-10' AS effective_ts",
                "'upsert' AS op",
            )
        )
        .unionByName(
            cust.filter("c_custkey % 50 = 0").selectExpr(
                "c_custkey + 200000 AS c_custkey",
                "CAST(NULL AS STRING) AS c_mktsegment",
                "TIMESTAMP '2024-02-01' AS effective_ts",
                "'delete' AS op",
            )
        )
    )
    out = scd2_apply(
        dim, changes, "c_custkey", ["c_mktsegment"], op_col="op"
    )
    return out.selectExpr(
        "c_custkey",
        "c_mktsegment",
        "date_format(valid_from, 'yyyy-MM-dd HH:mm:ss') AS valid_from",
        "date_format(valid_to, 'yyyy-MM-dd HH:mm:ss') AS valid_to",
        "is_current",
    )


def _scd2_apply_sql() -> str:
    # fingerprints mirror the operator exactly: 's'||state for
    # upserts, 'd' for tombstones (disjoint by construction; 'd'<'s'
    # resolves same-timestamp delete+upsert as close-then-reopen)
    return """
    WITH base AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             TIMESTAMP '2024-01-01' AS eff, 0 AS origin,
             's' || c_mktsegment AS fp, false AS del
      FROM customer),
    feed AS (
      SELECT c_custkey AS k,
             'SEG-' || CAST(c_custkey % 7 AS VARCHAR) AS seg,
             TIMESTAMP '2024-02-01' AS eff, 1 AS origin,
             's' || 'SEG-' || CAST(c_custkey % 7 AS VARCHAR) AS fp,
             false AS del
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'SEG-' || CAST(c_custkey % 5 AS VARCHAR),
             TIMESTAMP '2024-03-01', 1,
             's' || 'SEG-' || CAST(c_custkey % 5 AS VARCHAR), false
      FROM customer WHERE c_custkey % 9 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, TIMESTAMP '2024-02-15', 1,
             's' || c_mktsegment, false
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey + 100000, 'NEW', TIMESTAMP '2024-02-10', 1,
             'sNEW', false
      FROM customer WHERE c_custkey % 50 = 0
      UNION ALL
      SELECT c_custkey, NULL, TIMESTAMP '2024-02-20', 1, 'd', true
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, NULL, TIMESTAMP '2024-03-05', 1, 'd', true
      FROM customer WHERE c_custkey % 15 = 0
      UNION ALL
      SELECT c_custkey, 'BACK', TIMESTAMP '2024-03-10', 1,
             'sBACK', false
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 200000, NULL, TIMESTAMP '2024-02-01', 1,
             'd', true
      FROM customer WHERE c_custkey % 50 = 0),
    seq AS (
      SELECT *, LAG(fp) OVER (PARTITION BY k
                              ORDER BY eff, origin, fp) AS pfp
      FROM (SELECT * FROM base UNION ALL SELECT * FROM feed)),
    kept AS (
      SELECT * FROM seq
      WHERE origin = 0
         OR (CASE WHEN del THEN pfp IS NOT NULL AND pfp != 'd'
                  ELSE pfp IS NULL OR fp != pfp END)),
    chained AS (
      SELECT k, seg, eff, del,
        LEAD(eff) OVER (PARTITION BY k ORDER BY eff, origin, fp) AS vt
      FROM kept)
    SELECT k AS c_custkey, seg AS c_mktsegment,
      strftime(eff, '%Y-%m-%d %H:%M:%S') AS valid_from,
      strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
      (vt IS NULL) AS is_current
    FROM chained WHERE NOT del"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (operators.scd.scd2_lookup): the
    customer dimension versioned by two change waves (1997-01-01 for
    custkey%3, 1999-06-01 for custkey%9) plus a TOMBSTONE wave
    (custkey%6 deleted 1998-01-01 — %6 keys not also %9 stay closed
    forever; %18 keys re-register at the 1999 wave), then every order
    joined to the segment IN EFFECT at its order date via the
    end-bounded backward as-of join — the leakage-safe feature join;
    orders after a deletion (or inside a delete→re-register gap)
    attach NULL segment — and reduced to the (segment, order-year) mix
    panel. The oracle replays the version build and resolves the
    lookup with an equivalent validity-interval range join (the
    independent semantic check that the as-of end bound equals true
    interval containment)."""
    from pyspark_data_drift_detector_spark.operators.scd import (
        scd2_apply,
        scd2_lookup,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim0 = cust.selectExpr(
        "c_custkey", "c_mktsegment",
        "TIMESTAMP '1995-01-01' AS valid_from",
        "CAST(NULL AS TIMESTAMP) AS valid_to",
        "true AS is_current",
    )
    changes = cust.filter("c_custkey % 3 = 0").selectExpr(
        "c_custkey",
        "concat('SEG-', CAST(c_custkey % 7 AS STRING)) AS c_mktsegment",
        "TIMESTAMP '1997-01-01' AS effective_ts",
        "'upsert' AS op",
    ).unionByName(
        cust.filter("c_custkey % 9 = 0").selectExpr(
            "c_custkey",
            "concat('SEG-', CAST(c_custkey % 5 AS STRING)) AS c_mktsegment",
            "TIMESTAMP '1999-06-01' AS effective_ts",
            "'upsert' AS op",
        )
    ).unionByName(
        cust.filter("c_custkey % 6 = 0").selectExpr(
            "c_custkey",
            "CAST(NULL AS STRING) AS c_mktsegment",
            "TIMESTAMP '1998-01-01' AS effective_ts",
            "'delete' AS op",
        )
    )
    dim = scd2_apply(
        dim0, changes, "c_custkey", ["c_mktsegment"], op_col="op"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderdate"
    )
    looked = scd2_lookup(
        orders, dim, "o_custkey", "o_orderdate", "c_custkey",
        ["c_mktsegment"],
    )
    return looked.groupBy(
        F.col("c_mktsegment_at").alias("segment"),
        F.year("o_orderdate").alias("order_year"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))


def _scd2_lookup_sql() -> str:
    return """
    WITH base AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             TIMESTAMP '1995-01-01' AS eff, 0 AS origin,
             's' || c_mktsegment AS fp, false AS del
      FROM customer),
    feed AS (
      SELECT c_custkey AS k,
             'SEG-' || CAST(c_custkey % 7 AS VARCHAR) AS seg,
             TIMESTAMP '1997-01-01' AS eff, 1 AS origin,
             's' || 'SEG-' || CAST(c_custkey % 7 AS VARCHAR) AS fp,
             false AS del
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'SEG-' || CAST(c_custkey % 5 AS VARCHAR),
             TIMESTAMP '1999-06-01', 1,
             's' || 'SEG-' || CAST(c_custkey % 5 AS VARCHAR), false
      FROM customer WHERE c_custkey % 9 = 0
      UNION ALL
      SELECT c_custkey, NULL, TIMESTAMP '1998-01-01', 1, 'd', true
      FROM customer WHERE c_custkey % 6 = 0),
    seq AS (
      SELECT *, LAG(fp) OVER (PARTITION BY k
                              ORDER BY eff, origin, fp) AS pfp
      FROM (SELECT * FROM base UNION ALL SELECT * FROM feed)),
    kept AS (
      SELECT * FROM seq
      WHERE origin = 0
         OR (CASE WHEN del THEN pfp IS NOT NULL AND pfp != 'd'
                  ELSE pfp IS NULL OR fp != pfp END)),
    dim AS (
      SELECT k, seg, eff AS vf, del,
        LEAD(eff) OVER (PARTITION BY k ORDER BY eff, origin, fp) AS vt
      FROM kept)
    SELECT d.seg AS segment,
      CAST(year(o.o_orderdate) AS INT) AS order_year,
      CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    LEFT JOIN dim d ON d.k = o.o_custkey AND NOT d.del
      AND d.vf <= o.o_orderdate
      AND (d.vt IS NULL OR o.o_orderdate < d.vt)
    GROUP BY 1, 2"""


def q_linkage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage-quality panel (operators.linkage.linkage_report): the
    O(1) long-format health report over the record_linkage demo —
    match/exact/ambiguity rates and mean match distance; the oracle
    aggregates over the record_linkage oracle as a subquery."""
    from pyspark_data_drift_detector_spark.operators.linkage import (
        linkage_report,
    )

    return _round_cols(
        linkage_report(q_record_linkage(spark, sf_dir)), ["value"]
    )


def _linkage_report_sql() -> str:
    return f"""
    WITH linked AS (SELECT * FROM ({_record_linkage_sql()}) t),
    agg AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS np,
        CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS DOUBLE) AS nm,
        CAST(COALESCE(SUM(CASE WHEN distance = 0 THEN 1 ELSE 0 END), 0)
             AS DOUBLE) AS ne,
        CAST(SUM(CASE WHEN n_candidates > 1 THEN 1 ELSE 0 END)
             AS DOUBLE) AS na,
        AVG(distance) AS md
      FROM linked)
    SELECT 'n_probes' AS metric, ROUND(np, {ROUND}) AS value FROM agg
    UNION ALL SELECT 'n_matched', ROUND(nm, {ROUND}) FROM agg
    UNION ALL SELECT 'match_rate', ROUND(nm / np, {ROUND}) FROM agg
    UNION ALL SELECT 'n_exact', ROUND(ne, {ROUND}) FROM agg
    UNION ALL SELECT 'exact_rate', ROUND(ne / np, {ROUND}) FROM agg
    UNION ALL SELECT 'n_ambiguous', ROUND(na, {ROUND}) FROM agg
    UNION ALL SELECT 'ambiguity_rate', ROUND(na / np, {ROUND}) FROM agg
    UNION ALL SELECT 'mean_distance', ROUND(md, {ROUND}) FROM agg"""


def q_graph_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph intake health panel (operators.graph.graph_report) over
    the customer→supplier order-flow edges: size, density, self-loops,
    hot-node shares, dangling share (suppliers never source an edge in
    this feed — dangling_share pins the bipartite direction), and
    reciprocity (0 for a bipartite flow)."""
    from pyspark_data_drift_detector_spark.operators.graph import (
        graph_report,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).selectExpr(
        "concat('c:', CAST(o_custkey AS STRING)) AS src",
        "concat('s:', CAST(l_suppkey AS STRING)) AS dst",
    )
    return _round_cols(graph_report(edges), ["value"])


def _graph_report_sql() -> str:
    return f"""
    WITH e AS (
      SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
             's:' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    nodes AS (
      SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    agg AS (
      SELECT
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes) AS nn,
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM e) AS ne,
        (SELECT CAST(SUM(CASE WHEN src = dst THEN 1 ELSE 0 END)
                     AS DOUBLE) FROM e) AS loops,
        (SELECT CAST(MAX(d) AS DOUBLE) FROM
           (SELECT COUNT(*) AS d FROM e GROUP BY src)) AS mo,
        (SELECT CAST(MAX(d) AS DOUBLE) FROM
           (SELECT COUNT(*) AS d FROM e GROUP BY dst)) AS mi,
        (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) FROM e) AS nsrc,
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM e
         WHERE EXISTS (SELECT 1 FROM e r
                       WHERE r.src = e.dst AND r.dst = e.src)) AS nrec)
    SELECT 'n_nodes' AS metric, ROUND(nn, {ROUND}) AS value FROM agg
    UNION ALL SELECT 'n_edges', ROUND(ne, {ROUND}) FROM agg
    UNION ALL SELECT 'density', ROUND(ne / (nn * (nn - 1)), {ROUND})
      FROM agg
    UNION ALL SELECT 'n_self_loops', ROUND(loops, {ROUND}) FROM agg
    UNION ALL SELECT 'max_out_share', ROUND(mo / ne, {ROUND}) FROM agg
    UNION ALL SELECT 'max_in_share', ROUND(mi / ne, {ROUND}) FROM agg
    UNION ALL SELECT 'dangling_share', ROUND((nn - nsrc) / nn, {ROUND})
      FROM agg
    UNION ALL SELECT 'reciprocity', ROUND(nrec / ne, {ROUND}) FROM agg"""


def q_bucket_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap detection (operators.temporal.bucket_gaps):
    per event_type, the hourly buckets its OWN lifespan expected vs
    observed, missing-bucket count and longest consecutive outage —
    the zero-row buckets completeness_timeseries structurally cannot
    see. Pure integer arithmetic; the oracle regenerates the spine
    with generate_series."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        bucket_gaps,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bucket_gaps(ev, "ts", "event_type", "hour")


def _bucket_gaps_sql(step: int = 3600) -> str:
    return f"""
    WITH obs AS (
      SELECT DISTINCT event_type AS k, date_trunc('hour', ts) AS b
      FROM events WHERE ts IS NOT NULL),
    bounds AS (SELECT k, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY k),
    spine AS (
      SELECT k, UNNEST(generate_series(b0, b1, INTERVAL {step} SECOND))
               AS b
      FROM bounds),
    missing AS (
      SELECT s.k, s.b FROM spine s
      LEFT JOIN obs o ON s.k = o.k AND s.b = o.b
      WHERE o.k IS NULL),
    runs AS (
      SELECT k, COUNT(*) AS run_len FROM (
        SELECT k, b,
          CAST(FLOOR(epoch(b)) AS BIGINT) // {step}
            - ROW_NUMBER() OVER (PARTITION BY k ORDER BY b) AS g
        FROM missing) t
      GROUP BY k, g),
    gap_stats AS (
      SELECT k, CAST(SUM(run_len) AS BIGINT) AS n_missing,
             CAST(MAX(run_len) AS BIGINT) AS longest_gap
      FROM runs GROUP BY k)
    SELECT bo.k AS key,
      CAST((CAST(FLOOR(epoch(bo.b1)) AS BIGINT)
            - CAST(FLOOR(epoch(bo.b0)) AS BIGINT)) // {step} + 1
           AS BIGINT) AS n_expected,
      oc.n_observed,
      CAST(COALESCE(g.n_missing, 0) AS BIGINT) AS n_missing,
      CAST(COALESCE(g.longest_gap, 0) AS BIGINT) AS longest_gap
    FROM bounds bo
    JOIN (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_observed
          FROM obs GROUP BY k) oc ON bo.k = oc.k
    LEFT JOIN gap_stats g ON bo.k = g.k"""


def q_scd2_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 invariant checker (operators.scd.scd2_validate) over a
    deliberately corrupted customer dimension: the clean two-wave
    version build plus injected defects — a second open row
    (custkey%25), an inverted interval (custkey%40), and a gap-opening
    shift (custkey%35's second version delayed a day). Output: the
    six-check violation panel."""
    from pyspark_data_drift_detector_spark.operators.scd import (
        scd2_validate,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim = cust.selectExpr(
        "c_custkey AS k",
        "c_mktsegment AS seg",
        "TIMESTAMP '1995-01-01' AS valid_from",
        "CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1997-01-01'"
        " WHEN c_custkey % 35 = 0 THEN TIMESTAMP '1997-01-01' END"
        " AS valid_to",
        "c_custkey % 3 != 0 AND c_custkey % 35 != 0 AS is_current",
    ).unionByName(
        cust.filter("c_custkey % 3 = 0").selectExpr(
            "c_custkey AS k", "'SEG2' AS seg",
            "TIMESTAMP '1997-01-01' AS valid_from",
            "CAST(NULL AS TIMESTAMP) AS valid_to", "true AS is_current",
        )
    ).unionByName(
        # gap: the replacement version starts a day AFTER the close
        cust.filter("c_custkey % 35 = 0 AND c_custkey % 3 != 0")
        .selectExpr(
            "c_custkey AS k", "'SEG3' AS seg",
            "TIMESTAMP '1997-01-02' AS valid_from",
            "CAST(NULL AS TIMESTAMP) AS valid_to", "true AS is_current",
        )
    ).unionByName(
        # defect: a SECOND open row
        cust.filter("c_custkey % 25 = 0").selectExpr(
            "c_custkey AS k", "'DUPE' AS seg",
            "TIMESTAMP '1998-01-01' AS valid_from",
            "CAST(NULL AS TIMESTAMP) AS valid_to", "true AS is_current",
        )
    ).unionByName(
        # defect: inverted interval
        cust.filter("c_custkey % 40 = 0").selectExpr(
            "c_custkey AS k", "'INV' AS seg",
            "TIMESTAMP '1999-01-01' AS valid_from",
            "TIMESTAMP '1998-01-01' AS valid_to", "false AS is_current",
        )
    )
    return scd2_validate(dim, "k")


def _scd2_validate_sql() -> str:
    return """
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
        TIMESTAMP '1995-01-01' AS vf,
        CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1997-01-01'
             WHEN c_custkey % 35 = 0 THEN TIMESTAMP '1997-01-01' END
          AS vt,
        (c_custkey % 3 != 0 AND c_custkey % 35 != 0) AS cur
      FROM customer
      UNION ALL
      SELECT c_custkey, 'SEG2', TIMESTAMP '1997-01-01', NULL, true
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'SEG3', TIMESTAMP '1997-01-02', NULL, true
      FROM customer WHERE c_custkey % 35 = 0 AND c_custkey % 3 != 0
      UNION ALL
      SELECT c_custkey, 'DUPE', TIMESTAMP '1998-01-01', NULL, true
      FROM customer WHERE c_custkey % 25 = 0
      UNION ALL
      SELECT c_custkey, 'INV', TIMESTAMP '1999-01-01',
             TIMESTAMP '1998-01-01', false
      FROM customer WHERE c_custkey % 40 = 0),
    seq AS (
      SELECT k, vf, vt, cur,
        LAG(vt) OVER (PARTITION BY k ORDER BY vf) AS pvt
      FROM dim),
    per_key AS (
      SELECT k, SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS n_open
      FROM seq GROUP BY k)
    SELECT 'multiple_open' AS "check",
      (SELECT CAST(COUNT(*) AS BIGINT) FROM per_key WHERE n_open > 1)
        AS n_violations
    UNION ALL SELECT 'no_open',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM per_key WHERE n_open = 0)
    UNION ALL SELECT 'open_not_null_to',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM seq
       WHERE (cur AND vt IS NOT NULL) OR (NOT cur AND vt IS NULL))
    UNION ALL SELECT 'overlap',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM seq
       WHERE pvt IS NOT NULL AND vf < pvt)
    UNION ALL SELECT 'gap',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM seq
       WHERE pvt IS NOT NULL AND vf > pvt)
    UNION ALL SELECT 'inverted',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM seq
       WHERE vt IS NOT NULL AND vt <= vf)"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full drift-detection pipeline on the sf0.001 lineitem
    even/odd split → long-format result rows (one per analyzed column)."""
    from pyspark_data_drift_detector_spark import detect_drift

    df = _lineitem(spark, "/root/testdata/sf0.001")
    ref, curr = _split(df)
    return detect_drift(ref, curr)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order matters: the driver's correctness harness records only the
    # first 50 entries. Rotation policy (VERDICT r9 task 1, restated
    # r11): queries are sorted strictly by the round of their most
    # recent driver verdict, oldest first (ties alphabetical), so the
    # 50-query window always gates the longest-unverified cohort.
    # Brand-new operators are inserted right after the oldest cohort so
    # they are driver-gated in their first round. After each round,
    # re-sort against the refreshed CORRECTNESS_r*.json set. With N
    # queries and a 50-slot window the achievable invariant is "every
    # query's latest driver verdict is <= ceil(N/50) rounds old" (= 4
    # rounds at ~200 queries); "<= 2 rounds" is
    # arithmetically impossible past 100 queries. Every query stays
    # covered locally by tests/test_oracle_parity.py and
    # tools/verify_oracle.py regardless of window position.
    return {
        # --- window head: the 47 queries whose latest driver verdict
        #     is r10 (oldest cohort, VERDICT r14 rotation policy) ---
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "bpe_segment": q_bpe_segment,
        "bpe_vocab": q_bpe_vocab,
        "chunk_documents": q_chunk_documents,
        "classifier_sweep": q_classifier_sweep,
        "cluster_silhouette": q_cluster_silhouette,
        "corpus_clean_funnel": q_corpus_clean_funnel,
        "corpus_report_incremental": q_corpus_report_incremental,
        "decontaminate": q_decontaminate,
        "dedup_clusters": q_dedup_clusters,
        "embedding_incremental": q_embedding_incremental,
        "embedding_report": q_embedding_report,
        "embedding_report_incremental": q_embedding_report_incremental,
        "event_paths": q_event_paths,
        "fit_bpe": q_fit_bpe,
        "fit_quality_classifier": q_fit_quality_classifier,
        "funnel": q_funnel,
        "group_keywords": q_group_keywords,
        "image_decode": q_image_decode,
        "js_full_support": q_js_full_support,
        "json_drift": q_json_drift,
        "k_anonymity": q_k_anonymity,
        "kmeans_fit": q_kmeans_fit,
        "l_diversity": q_l_diversity,
        "mix_sample": q_mix_sample,
        "mix_sample_tokens": q_mix_sample_tokens,
        "multimodal_meta": q_multimodal_meta,
        "numeric_drift": q_numeric_drift,
        "numeric_drift_rowpath": q_numeric_drift_rowpath,
        "numeric_profile": q_numeric_profile,
        "pii_scrub": q_pii_scrub,
        "quality_classifier": q_quality_classifier,
        "retention_cohorts": q_retention_cohorts,
        "robust_outlier_drift": q_robust_outlier_drift,
        "sessionize": q_sessionize,
        "snapshot_diff": q_snapshot_diff,
        "stratified_sample": q_stratified_sample,
        "t_closeness": q_t_closeness,
        "temperature_sample": q_temperature_sample,
        "tfidf_keywords": q_tfidf_keywords,
        "top_categories": q_top_categories,
        "transition_drift": q_transition_drift,
        "transition_incremental": q_transition_incremental,
        "unigram_logprob": q_unigram_logprob,
        "vocab_drift": q_vocab_drift,
        "weighted_sample": q_weighted_sample,
        "windowed_drift": q_windowed_drift,
        # --- re-gate: jpeg_decode (oracle pin moved twice in r14 —
        #     VERDICT r14 task 10) plus the head of the r11 cohort ---
        "jpeg_decode": q_jpeg_decode,
        "ann_pq": q_ann_pq,
        "asof_join": q_asof_join,
        # --- below the 50-slot window: ascending by last-verified
        #     round (r11, r12, r13, r14), ties alphabetical ---
        "benford_deviation": q_benford_deviation,
        "bigram_logprob": q_bigram_logprob,
        "bpe_fertility_drift": q_bpe_fertility_drift,
        "bpe_segment_arrow": q_bpe_segment_arrow,
        "c4_line_filter": q_c4_line_filter,
        "chi2_cells": q_chi2_cells,
        "cluster_balance": q_cluster_balance,
        "cluster_label_purity": q_cluster_label_purity,
        "corpus_funnel_grouped": q_corpus_funnel_grouped,
        "cube_profile": q_cube_profile,
        "dedup_containment": q_dedup_containment,
        "dedup_fuzzy": q_dedup_fuzzy,
        "dedup_report": q_dedup_report,
        "dedup_savings": q_dedup_savings,
        "dedup_survivors": q_dedup_survivors,
        "dedup_survivors_best": q_dedup_survivors_best,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_novelty": q_doc_novelty,
        "embedding_constraints": q_embedding_constraints,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "events_report": q_events_report,
        "events_report_incremental": q_events_report_incremental,
        "ewma_chart": q_ewma_chart,
        "ewma_grouped": q_ewma_grouped,
        "format_incremental": q_format_incremental,
        "format_profile": q_format_profile,
        "funnel_latency": q_funnel_latency,
        "funnel_windowed": q_funnel_windowed,
        "fuzzy_incremental": q_fuzzy_incremental,
        "image_feature_drift": q_image_feature_drift,
        "knn_cosine": q_knn_cosine,
        "lang_id": q_lang_id,
        "mix_sample_epochs": q_mix_sample_epochs,
        "pack_documents_grouped": q_pack_documents_grouped,
        "psi_cells": q_psi_cells,
        "repetition_stats": q_repetition_stats,
        "rollup_consistency": q_rollup_consistency,
        "rollup_mismatch_topk": q_rollup_mismatch_topk,
        "seasonality_drift": q_seasonality_drift,
        "seasonality_incremental": q_seasonality_incremental,
        "semantic_dedup": q_semantic_dedup,
        "semantic_dedup_kmeans": q_semantic_dedup_kmeans,
        "text_stats": q_text_stats,
        "touch_attribution": q_touch_attribution,
        "training_mix_report": q_training_mix_report,
        "transition_stationary": q_transition_stationary,
        "watermark_planner": q_watermark_planner,
        "alignment_drift": q_alignment_drift,
        "alignment_incremental": q_alignment_incremental,
        "ann_incremental": q_ann_incremental,
        "completeness_timeseries": q_completeness_timeseries,
        "constraint_suite": q_constraint_suite,
        "dedup_exact": q_dedup_exact,
        "dedup_incremental": q_dedup_incremental,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_normalized": q_dedup_normalized,
        "dedup_simhash": q_dedup_simhash,
        "equidepth_histogram": q_equidepth_histogram,
        "equidepth_histogram_counts": q_equidepth_histogram_counts,
        "fit_bpe_driver": q_fit_bpe_driver,
        "functional_dependencies": q_functional_dependencies,
        "image_features": q_image_features,
        "image_incremental": q_image_incremental,
        "image_neardup": q_image_neardup,
        "incremental_pipeline": q_incremental_pipeline,
        "join_explosion": q_join_explosion,
        "json_profile": q_json_profile,
        "key_overlap": q_key_overlap,
        "key_skew_profile": q_key_skew_profile,
        "merged_categorical_drift": q_merged_categorical_drift,
        "merged_distinct": q_merged_distinct,
        "merged_drift": q_merged_drift,
        "merged_drift_quantiles": q_merged_drift_quantiles,
        "merged_group_drift": q_merged_group_drift,
        "merged_heavy_hitters": q_merged_heavy_hitters,
        "merged_profile": q_merged_profile,
        "merged_quantiles": q_merged_quantiles,
        "mmd_drift": q_mmd_drift,
        "mutual_information_drift": q_mutual_information_drift,
        "ngram_overlap": q_ngram_overlap,
        "pack_documents": q_pack_documents,
        "packing_stats": q_packing_stats,
        "pca_anomaly": q_pca_anomaly,
        "pca_contributions": q_pca_contributions,
        "quality_filter": q_quality_filter,
        "robust_profile": q_robust_profile,
        "robust_profile_counts": q_robust_profile_counts,
        "rollup_timeseries": q_rollup_timeseries,
        "seasonal_anomalies": q_seasonal_anomalies,
        "semantic_decontaminate": q_semantic_decontaminate,
        "session_drift": q_session_drift,
        "token_budget_sample": q_token_budget_sample,
        "uniform_sample": q_uniform_sample,
        "windowed_distinct": q_windowed_distinct,
        "windowed_heavy_hitters": q_windowed_heavy_hitters,
        "zipf_fit": q_zipf_fit,
        "adaptive_thresholds": q_adaptive_thresholds,
        "alignment_grouped": q_alignment_grouped,
        "audio_feature_drift": q_audio_feature_drift,
        "audio_features": q_audio_features,
        "audio_incremental": q_audio_incremental,
        "audio_neardup": q_audio_neardup,
        "audio_segments": q_audio_segments,
        "bucket_gaps": q_bucket_gaps,
        "cap_per_group": q_cap_per_group,
        "categorical_distances": q_categorical_distances,
        "categorical_drift": q_categorical_drift,
        "categorical_drift_exact": q_categorical_drift_exact,
        "cluster_balance_incremental": q_cluster_balance_incremental,
        "complex_profile": q_complex_profile,
        "corpus_report": q_corpus_report,
        "corr_groups": q_corr_groups,
        "corr_pairs": q_corr_pairs,
        "cusum_changepoint": q_cusum_changepoint,
        "dist_shape": q_dist_shape,
        "drift_severity": q_drift_severity,
        "embedding_drift": q_embedding_drift,
        "entropy": q_entropy,
        "events_sliding": q_events_sliding,
        "events_windowed": q_events_windowed,
        "feature_importance": q_feature_importance,
        "frame_sample": q_frame_sample,
        "gif_decode": q_gif_decode,
        "graph_report": q_graph_report,
        "image_clusters": q_image_clusters,
        "linkage_incremental": q_linkage_incremental,
        "linkage_report": q_linkage_report,
        "mjpeg_decode": q_mjpeg_decode,
        "multimodal_incremental": q_multimodal_incremental,
        "multimodal_report": q_multimodal_report,
        "pagerank": q_pagerank,
        "png_decode": q_png_decode,
        "record_linkage": q_record_linkage,
        "scd2_validate": q_scd2_validate,
        "video_feature_drift": q_video_feature_drift,
        "video_features": q_video_features,
        "video_incremental": q_video_incremental,
        "video_neardup": q_video_neardup,
        "wav_formats": q_wav_formats,
        "ann_ivf": q_ann_ivf,
        "ann_lsh": q_ann_lsh,
        "blocking_report": q_blocking_report,
        "bloom_decontaminate": q_bloom_decontaminate,
        "components_incremental": q_components_incremental,
        "dp_release": q_dp_release,
        "freq_table": q_freq_table,
        "graph_components": q_graph_components,
        "graph_triangles": q_graph_triangles,
        "group_drift": q_group_drift,
        "group_numeric_drift": q_group_numeric_drift,
        "group_profile": q_group_profile,
        "hash_split": q_hash_split,
        "histogram": q_histogram,
        "interval_join": q_interval_join,
        "ks_wasserstein": q_ks_wasserstein,
        "linkage_tokens": q_linkage_tokens,
        "logprob_incremental": q_logprob_incremental,
        "neardup_incremental": q_neardup_incremental,
        "ohlc_downsample": q_ohlc_downsample,
        "ohlc_rollup": q_ohlc_rollup,
        "outlier_drift": q_outlier_drift,
        "passage_decontaminate": q_passage_decontaminate,
        "passage_dedup": q_passage_dedup,
        "passage_excise": q_passage_excise,
        "passage_excise_keep_one": q_passage_excise_keep_one,
        "passage_incremental": q_passage_incremental,
        "passage_pairs": q_passage_pairs,
        "psi": q_psi,
        "psi_numeric": q_psi_numeric,
        "quantile_shift": q_quantile_shift,
        "rare_categories": q_rare_categories,
        "rare_values": q_rare_values,
        "running_profile": q_running_profile,
        "scd2_apply": q_scd2_apply,
        "scd2_lookup": q_scd2_lookup,
        "scd2_report": q_scd2_report,
        "schema_drift": q_schema_drift,
        "semantic_decontaminate_lsh": q_semantic_decontaminate_lsh,
        "streaming_drift_alerts": q_streaming_drift_alerts,
        "survival_curve": q_survival_curve,
        "survival_grouped": q_survival_grouped,
        "survival_incremental": q_survival_incremental,
        "survival_report": q_survival_report,
        "temporal_drift": q_temporal_drift,
        "text_quality_drift": q_text_quality_drift,
        "tiff_decode": q_tiff_decode,
        "token_share_drift": q_token_share_drift,
        "token_share_incremental": q_token_share_incremental,
        "type_inference": q_type_inference,
    }


def oracle_sql() -> dict[str, str]:
    return _oracle_queries()
