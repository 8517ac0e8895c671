"""Numeric drift metrics: expression math over a join of two profiles.

The entire M16/M19/M23 family (SURVEY.md §2.9) re-expressed as a single
broadcast join of two O(columns)-row profile tables plus column expressions —
no driver math, no per-column jobs.

Semantics reproduced from the reference:
- relative-diff convention ``numerical_analyzer.py:214-219``
  (ref==0 → 1.0 if curr != 0 else 0.0; signed otherwise);
- weighted drift score ``numerical_analyzer.py:253-272`` (weights mean .25,
  median .2, std_dev .15, iqr .15, null .1, range .15; normalized by the
  weight mass of non-null metrics; capped at 1.0);
- drift decision + causes ``numerical_analyzer.py:68-91`` (six threshold
  comparisons). NOTE deliberate fix: the reference compares a key
  ``std_relative_diff`` that its own metrics dict never emits
  (it emits ``std_dev_relative_diff``), so its std check is dead code; we
  implement the intent and compare the actual std_dev relative diff
  (SURVEY §7.4 risk 3).
- severity bands ``result_handler.py:55-73``;
- M17 row-path score ``numerical_analyzer.py:278-558`` (components at
  :331-413: null-fraction diff, σ-normalized mean/median shifts capped at 1,
  log₂-ratio σ/range/IQR terms, σ-normalized p95/p99 tail shifts; score =
  mean of the components that were actually appended) via
  ``score_mode="row_path"``. The reference computes it with two collect()s
  per column; here it is the same single profile aggregate plus expression
  math — the components become an array, absent ones compact away, and the
  mean is an ``aggregate`` lambda.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

#: epsilon guarding the row-path divisions (numerical_analyzer.py:343)
ROW_PATH_EPS = 1e-10

# (metric, weight) — numerical_analyzer.py:253-260
SCORE_WEIGHTS: dict[str, float] = {
    "mean_relative_diff": 0.25,
    "median_relative_diff": 0.2,
    "std_dev_relative_diff": 0.15,
    "iqr_relative_diff": 0.15,
    "null_diff": 0.1,
    "range_relative_diff": 0.15,
}

DEFAULT_NUM_THRESHOLDS: dict[str, float] = {
    "mean_threshold": 0.05,
    "median_threshold": 0.05,
    "std_threshold": 0.1,
    "iqr_threshold": 0.1,
    "null_threshold": 0.005,
    "range_threshold": 0.1,
}


def relative_diff_expr(ref: Column, curr: Column) -> Column:
    """ref==0 → 1.0 if curr!=0 else 0.0; else (curr-ref)/abs(ref)."""
    return (
        F.when(ref.isNull() | curr.isNull(), F.lit(None).cast("double"))
        .when(ref == 0, F.when(curr != 0, F.lit(1.0)).otherwise(F.lit(0.0)))
        .otherwise((curr - ref) / F.abs(ref))
    )


def severity_expr(score: Column) -> Column:
    """None < .1 ≤ Low < .25 ≤ Medium < .5 ≤ High < .75 ≤ Critical."""
    return (
        F.when(score < 0.1, "None")
        .when(score < 0.25, "Low")
        .when(score < 0.5, "Medium")
        .when(score < 0.75, "High")
        .otherwise("Critical")
    )


def row_path_score_expr() -> Column:
    """M17 drift score over ``ref_*``/``curr_*`` profile columns.

    Reproduces ``numerical_analyzer.py:331-413,499-502`` exactly, including
    its conditional component inclusion: a component that the reference's
    imperative code never appends (e.g. the σ log-ratio when curr σ ≤ ε)
    becomes NULL here and is compacted out before the mean, so the divisor
    matches the reference's ``len(drift_components)``.

    Notes pinned to the reference:
    - null fractions divide by the NON-null count (``F.count(col)`` at
      :303 is Spark's non-null count) — a quirk, reproduced as-is;
    - mean/σ/median are ``na.fill(0.0)``-ed (:309-313) so those components
      are always present;
    - tail shifts divide by the *unfloored* ref σ and require σ_ref > ε.
    """
    eps = F.lit(ROW_PATH_EPS)
    one = F.lit(1.0)
    ln2 = F.lit(math.log(2.0))

    mean_r = F.coalesce(F.col("ref_mean"), F.lit(0.0))
    mean_c = F.coalesce(F.col("curr_mean"), F.lit(0.0))
    std_r = F.coalesce(F.col("ref_stddev"), F.lit(0.0))
    std_c = F.coalesce(F.col("curr_stddev"), F.lit(0.0))
    med_r = F.coalesce(F.col("ref_p50"), F.lit(0.0))
    med_c = F.coalesce(F.col("curr_p50"), F.lit(0.0))
    std_safe = F.greatest(std_r, eps)

    def null_frac(side: str) -> Column:
        n = F.col(f"{side}_n")
        return F.when(n > 0, F.col(f"{side}_null_count") / n).otherwise(F.lit(0.0))

    c_null = F.abs(null_frac("curr") - null_frac("ref"))
    c_mean = F.least(F.abs(mean_c - mean_r) / std_safe, one)
    # appended only when curr σ > ε (:355-360)
    c_std = F.when(std_c > eps, F.least(F.abs(F.log(std_c / std_safe)) / ln2, one))
    c_med = F.least(F.abs(med_c - med_r) / std_safe, one)

    have_rng = (
        F.col("ref_min").isNotNull()
        & F.col("ref_max").isNotNull()
        & F.col("curr_min").isNotNull()
        & F.col("curr_max").isNotNull()
    )
    rng_r = F.col("ref_max") - F.col("ref_min")
    rng_c = F.col("curr_max") - F.col("curr_min")
    # :370-382 — NB when |ref_range| > ε but curr_range ≤ ε nothing is appended
    c_rng = F.when(
        have_rng & (F.abs(rng_r) > eps) & (rng_c > eps),
        F.least(F.abs(F.log((rng_c + eps) / (rng_r + eps))) / ln2, one),
    ).when(have_rng & (F.abs(rng_r) <= eps) & (F.abs(rng_c) > eps), one)

    have_iqr = (
        F.col("ref_p25").isNotNull()
        & F.col("ref_p75").isNotNull()
        & F.col("curr_p25").isNotNull()
        & F.col("curr_p75").isNotNull()
    )
    iqr_r = F.col("ref_p75") - F.col("ref_p25")
    iqr_c = F.col("curr_p75") - F.col("curr_p25")
    # :389-399 — when |ref_iqr| > ε the component is always appended
    # (log ratio, or 1.0 for a collapsed curr IQR)
    c_iqr = F.when(
        have_iqr & (F.abs(iqr_r) > eps),
        F.when(
            iqr_c > eps, F.least(F.abs(F.log((iqr_c + eps) / (iqr_r + eps))) / ln2, one)
        ).otherwise(one),
    )

    tails = [
        F.when(
            F.col(f"ref_{p}").isNotNull() & F.col(f"curr_{p}").isNotNull() & (std_r > eps),
            F.least(F.abs(F.col(f"curr_{p}") - F.col(f"ref_{p}")) / std_r, one),
        )
        for p in ("p95", "p99")
    ]

    comps = F.array_compact(F.array(c_null, c_mean, c_std, c_med, c_rng, c_iqr, *tails))
    mean_of = F.aggregate(comps, F.lit(0.0), lambda a, x: a + x) / F.size(comps)
    score = F.when(F.size(comps) > 0, mean_of).otherwise(F.lit(0.0))
    return F.greatest(F.lit(0.0), F.least(one, score))


def _prefixed(profile: DataFrame, prefix: str) -> DataFrame:
    return profile.select(
        "column_name",
        *[F.col(c).alias(f"{prefix}{c}") for c in profile.columns if c != "column_name"],
    )


def numeric_drift(
    ref_profile: DataFrame,
    curr_profile: DataFrame,
    thresholds: dict[str, float] | None = None,
    score_mode: str = "weighted",
) -> DataFrame:
    """Join ref/curr numeric profiles and compute the full drift row per column.

    Inputs are ``operators.profile.numeric_profile`` outputs (must include
    p25/p50/p75 quantiles). The join is on ``column_name`` — both sides are
    O(columns) rows, so this is a broadcast hash join regardless of the
    source table size.
    """
    joined = _prefixed(ref_profile, "ref_").join(
        F.broadcast(_prefixed(curr_profile, "curr_")), on="column_name", how="full_outer"
    )
    return numeric_drift_from_joined(joined, thresholds, score_mode=score_mode)


def numeric_drift_pair(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str] | None = None,
    thresholds: dict[str, float] | None = None,
    score_mode: str = "weighted",
    **profile_kwargs,
) -> DataFrame:
    """Numeric drift from raw snapshots: ONE scan+agg job for both sides.

    Uses the side-tagged union profile (``numeric_profile_pair``), so no
    join is needed at all — the preferred entry at scale.
    """
    from pyspark_data_drift_detector_spark.operators.profile import numeric_profile_pair

    profile_kwargs.setdefault("quantiles", (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99))
    joined = numeric_profile_pair(df_ref, df_curr, columns=columns, **profile_kwargs)
    return numeric_drift_from_joined(joined, thresholds, score_mode=score_mode)


def numeric_drift_from_joined(
    joined: DataFrame,
    thresholds: dict[str, float] | None = None,
    score_mode: str = "weighted",
) -> DataFrame:
    """Drift expressions over a table with ``ref_*``/``curr_*`` stat columns.

    ``score_mode``: ``"weighted"`` (dict-path, ``numerical_analyzer.py:253-272``,
    the default) or ``"row_path"`` (M17, mean-of-components — requires
    p95/p99 in the joined profile). Both reference scorers coexist; only
    ``drift_score`` (and the severity derived from it) changes.
    """
    th = dict(DEFAULT_NUM_THRESHOLDS)
    th.update(thresholds or {})

    # SQL-string assembly — see the profile module docstring for why (py4j
    # round-trips dominated driver-side plan construction)
    derived = []
    for side in ("ref", "curr"):
        derived += [
            f"{side}_p75 - {side}_p25 AS {side}_iqr",
            f"{side}_max - {side}_min AS {side}_range",
            f"{side}_p50 AS {side}_median",
        ]
    joined = joined.selectExpr("*", *derived)

    def _rel(ref: str, curr: str) -> str:  # relative_diff_expr as SQL
        return (
            f"CASE WHEN {ref} IS NULL OR {curr} IS NULL THEN CAST(NULL AS DOUBLE)"
            f" WHEN {ref} = 0 THEN CASE WHEN {curr} != 0 THEN 1.0D ELSE 0.0D END"
            f" ELSE ({curr} - {ref}) / abs({ref}) END"
        )

    stats = ["mean", "median", "stddev", "min", "max", "iqr", "range"]
    # the metrics dict uses "std_dev" as the stat key (numerical_analyzer.py:222)
    key_of = {s: ("std_dev" if s == "stddev" else s) for s in stats}
    diffs = []
    for s in stats:
        k = key_of[s]
        diffs.append(f"curr_{s} - ref_{s} AS {k}_abs_diff")
        diffs.append(_rel(f"ref_{s}", f"curr_{s}") + f" AS {k}_relative_diff")
    diffs.append(
        "coalesce(curr_null_ratio, 0.0D) - coalesce(ref_null_ratio, 0.0D) AS null_diff"
    )
    joined = joined.selectExpr("*", *diffs)

    # weighted drift score, normalized by the weight mass of present metrics
    # (0.0D leading term keeps the float-addition order of the original
    # Column fold — bit-identical scores)
    contrib = "0.0D"
    weight_mass = "0.0D"
    for metric, w in SCORE_WEIGHTS.items():
        contrib += (
            f" + CASE WHEN {metric} IS NOT NULL THEN abs({metric}) * {w!r}D"
            " ELSE 0.0D END"
        )
        weight_mass += f" + CASE WHEN {metric} IS NOT NULL THEN {w!r}D ELSE 0.0D END"
    if score_mode == "row_path":
        joined = joined.withColumn("drift_score", row_path_score_expr())
    else:
        joined = joined.selectExpr(
            "*",
            f"CASE WHEN ({weight_mass}) > 0"
            f" THEN least(1.0D, ({contrib}) / ({weight_mass}))"
            " ELSE 0.0D END AS drift_score",
        )

    # drift decision + causes (numerical_analyzer.py:68-91)
    cause_checks = [
        ("mean", f"abs(coalesce(mean_relative_diff, 0.0D)) > {th['mean_threshold']!r}D"),
        ("median", f"abs(coalesce(median_relative_diff, 0.0D)) > {th['median_threshold']!r}D"),
        ("std_dev", f"abs(coalesce(std_dev_relative_diff, 0.0D)) > {th['std_threshold']!r}D"),
        ("iqr", f"abs(coalesce(iqr_relative_diff, 0.0D)) > {th['iqr_threshold']!r}D"),
        ("null_proportion", f"abs(coalesce(null_diff, 0.0D)) > {th['null_threshold']!r}D"),
        ("range", f"abs(coalesce(range_relative_diff, 0.0D)) > {th['range_threshold']!r}D"),
    ]
    detected = " OR ".join(c for _, c in cause_checks)
    causes = (
        "array_compact(array("
        + ", ".join(f"CASE WHEN {c} THEN '{name}' END" for name, c in cause_checks)
        + "))"
    )
    return joined.selectExpr(
        "*",
        f"({detected}) AS drift_detected",
        f"{causes} AS drift_causes",
        "CASE WHEN drift_score < 0.1D THEN 'None'"
        " WHEN drift_score < 0.25D THEN 'Low'"
        " WHEN drift_score < 0.5D THEN 'Medium'"
        " WHEN drift_score < 0.75D THEN 'High'"
        " ELSE 'Critical' END AS drift_severity",
    )
