"""Rare-category changes and outlier-rate drift (SURVEY §2.9 M12-M14).

- ``rare_category_changes``: the reference's only truly Spark-shaped
  analyzer (``rare_event_analyzer.py:13-113``) — kept distributed, but the
  per-column join loop becomes ONE pass over all columns via the aligned
  frequency cells.
- ``outlier_drift``: z-score (``rare_event_analyzer.py:115-185``) and IQR
  (``numerical_analyzer.py:415-496``) outlier-rate drift combined into one
  conditional aggregate over a side-tagged union. Current-side outliers are
  deliberately scored with REFERENCE statistics (the reference's semantics —
  drift is measured against the reference's notion of 'normal').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.frequency import pair_frequency_cells
from pyspark_data_drift_detector_spark.operators.profile import numeric_profile


def rare_category_changes(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    min_count: int = 10,
    max_frequency: float = 0.01,
) -> DataFrame:
    """Significant changes among rare categories, all columns in one pass.

    Semantics from ``rare_event_analyzer.py:13-113``: frequency denominators
    are full side row counts (nulls included); rare = freq ≤ max_frequency
    AND count ≥ min_count on either side; significant = |rel_change| ≥ 0.3
    or the category is new/disappeared; null categories are skipped in the
    output. ``rel_change``: ref>0 → (curr-ref)/ref; ref=0,curr>0 → 1; else 0.
    """
    from pyspark_data_drift_detector_spark.operators.frequency import with_key_totals

    cells = pair_frequency_cells(df_ref, df_curr, columns)
    enr = (
        with_key_totals(
            cells, {"ref_total": F.sum("ref_cnt"), "curr_total": F.sum("curr_cnt")}
        )
        .withColumn("ref_freq", F.col("ref_cnt") / F.greatest(F.col("ref_total"), F.lit(1)))
        .withColumn("curr_freq", F.col("curr_cnt") / F.greatest(F.col("curr_total"), F.lit(1)))
    )
    rare = enr.filter(
        ((F.col("ref_freq") <= max_frequency) & (F.col("ref_cnt") >= min_count))
        | ((F.col("curr_freq") <= max_frequency) & (F.col("curr_cnt") >= min_count))
    ).withColumn(
        "rel_change",
        F.when(
            F.col("ref_cnt") > 0,
            (F.col("curr_cnt") - F.col("ref_cnt")) / F.col("ref_cnt"),
        ).otherwise(F.when(F.col("curr_cnt") > 0, F.lit(1.0)).otherwise(F.lit(0.0))),
    )
    significant = rare.filter(
        (F.abs(F.col("rel_change")) >= 0.3)
        | (F.col("ref_cnt") == 0)
        | (F.col("curr_cnt") == 0)
    ).filter(F.col("value").isNotNull())

    change_type = (
        F.when(F.col("ref_cnt") == 0, "new_rare_category")
        .when(F.col("curr_cnt") == 0, "disappeared_rare_category")
        .when(F.col("rel_change") > 0, "increased_rare_category")
        .otherwise("decreased_rare_category")
    )
    severity = (
        F.when(F.col("ref_cnt") == 0, "high")
        .when(F.col("curr_cnt") == 0, "high")
        .when(
            F.col("rel_change") > 0,
            F.when(F.col("rel_change") > 1.0, "high").otherwise("medium"),
        )
        .otherwise(F.when(F.abs(F.col("rel_change")) > 0.5, "high").otherwise("medium"))
    )
    return significant.select(
        F.col("column_name").alias("column"),
        F.col("value").alias("category"),
        change_type.alias("change_type"),
        F.col("ref_cnt").alias("ref_count"),
        F.col("curr_cnt").alias("curr_count"),
        "ref_freq",
        "curr_freq",
        "rel_change",
        severity.alias("severity"),
    ).orderBy(
        F.when(F.col("severity") == "high", 0).otherwise(1),
        F.abs(F.col("rel_change")).desc(),
        F.col("column"),
        F.col("category"),
    )


def outlier_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    z_threshold: float = 3.0,
    ref_stats: dict[str, dict[str, float]] | None = None,
) -> DataFrame:
    """Z-score + IQR outlier-rate drift per column, one counting pass.

    Two jobs total: (1) the ref profile aggregate (mean/stddev/q1/q3 per
    column — O(columns) rows collected, the only driver data), (2) one
    side-tagged wide aggregate counting z-outliers, IQR outliers (1.5·IQR)
    and extremes (3·IQR) for every column on both sides.

    ``ref_stats`` may be passed (column → {mean, stddev, p25, p75}) to reuse
    an already-computed profile.
    """
    if ref_stats is None:
        prof = numeric_profile(
            df_ref, columns=columns, quantiles=(0.25, 0.75), with_shape=False
        )
        ref_stats = {
            r["column_name"]: {
                "mean": r["mean"],
                "stddev": r["stddev"],
                "p25": r["p25"],
                "p75": r["p75"],
            }
            for r in prof.collect()
        }

    tagged = df_ref.select(F.lit("r").alias("__side"), *columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *columns)
    )
    # SQL-string assembly — see the profile module docstring for why
    sides = {"ref": "__side = 'r'", "curr": "__side = 'c'"}
    aggs: list[str] = []
    epsilon = 1e-10
    active: list[str] = []

    def _flags(st: dict) -> tuple[bool, bool, float | None]:
        mean, std = st.get("mean"), st.get("stddev")
        q1, q3 = st.get("p25"), st.get("p75")
        has_z = std is not None and std > 0 and mean is not None
        iqr = (q3 - q1) if (q1 is not None and q3 is not None) else None
        return has_z, (iqr is not None and iqr > epsilon), iqr

    for c in columns:
        st = ref_stats.get(c) or {}
        has_z, has_iqr, iqr = _flags(st)
        if not (has_z or has_iqr):
            continue
        active.append(c)
        col = f"CAST(`{c}` AS DOUBLE)"
        for pre, cond in sides.items():
            nn = f"{cond} AND `{c}` IS NOT NULL"
            aggs.append(f"sum(CAST(({nn}) AS BIGINT)) AS `{pre}__{c}__n`")
            if has_z:
                z_out = (
                    f"abs(({col} - {st['mean']!r}D) / {st['stddev']!r}D)"
                    f" > {float(z_threshold)!r}D"
                )
                aggs.append(
                    f"sum(CAST(({nn} AND {z_out}) AS BIGINT)) AS `{pre}__{c}__z`"
                )
            if has_iqr:
                q1, q3 = st["p25"], st["p75"]
                lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
                xlo, xhi = q1 - 3.0 * iqr, q3 + 3.0 * iqr
                out_c = f"({col} < {lo!r}D OR {col} > {hi!r}D)"
                ext_c = f"({col} < {xlo!r}D OR {col} > {xhi!r}D)"
                aggs.append(
                    f"sum(CAST(({nn} AND {out_c}) AS BIGINT)) AS `{pre}__{c}__iqr`"
                )
                aggs.append(
                    f"sum(CAST(({nn} AND {ext_c}) AS BIGINT)) AS `{pre}__{c}__ext`"
                )
    if not active:
        raise ValueError("no columns with usable reference statistics")

    wide = tagged.selectExpr(*aggs)
    structs = []
    for c in active:
        has_z, has_iqr, _ = _flags(ref_stats[c])
        fields = [f"'column_name', '{c}'"]
        for pre in ("ref", "curr"):
            n = f"`{pre}__{c}__n`"
            fields.append(f"'{pre}_n', {n}")
            z = f"`{pre}__{c}__z`" if has_z else "CAST(NULL AS BIGINT)"
            fields.append(f"'{pre}_z_outlier_count', {z}")
            fields.append(
                f"'{pre}_z_outlier_ratio', "
                + (f"{z} / greatest({n}, 1)" if has_z else "CAST(NULL AS DOUBLE)")
            )
            o = f"`{pre}__{c}__iqr`" if has_iqr else "CAST(NULL AS BIGINT)"
            e = f"`{pre}__{c}__ext`" if has_iqr else "CAST(NULL AS BIGINT)"
            fields.append(f"'{pre}_outlier_count', {o}")
            fields.append(f"'{pre}_extreme_count', {e}")
            fields.append(
                f"'{pre}_outlier_rate', "
                + (f"{o} / greatest({n}, 1)" if has_iqr else "CAST(NULL AS DOUBLE)")
            )
            fields.append(
                f"'{pre}_extreme_rate', "
                + (f"{e} / greatest({n}, 1)" if has_iqr else "CAST(NULL AS DOUBLE)")
            )
        structs.append("named_struct(" + ", ".join(fields) + ")")
    out = wide.selectExpr("inline(array(" + ", ".join(structs) + "))")

    # z-score drift classification — rare_event_analyzer.py:160-177
    rel = (
        "CASE WHEN ref_z_outlier_ratio > 0 THEN"
        " (curr_z_outlier_ratio - ref_z_outlier_ratio) / ref_z_outlier_ratio"
        " WHEN curr_z_outlier_ratio > 0 THEN 1.0D ELSE 0.0D END"
    )
    adiff = "abs(curr_z_outlier_ratio - ref_z_outlier_ratio)"
    return out.selectExpr(
        "*",
        f"{rel} AS z_rel_change",
        f"(abs({rel}) >= 0.3D) OR ({adiff} >= 0.01D) AS z_significant",
        f"CASE WHEN (abs({rel}) >= 1.0D) OR ({adiff} >= 0.05D)"
        " THEN 'high' ELSE 'medium' END AS z_severity",
        "abs(curr_outlier_rate - ref_outlier_rate) AS outlier_rate_diff",
        "abs(curr_extreme_rate - ref_extreme_rate) AS extreme_rate_diff",
    )


def robust_outlier_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    z_threshold: float = 3.5,
    rate_change_threshold: float = 0.01,
) -> DataFrame:
    """MAD-based (robust) outlier-rate drift — the M13/M14 family's
    outlier-resistant sibling.

    The z-score path's own mean/std are corrupted by the outliers it
    hunts; the classic fix scores against median and MAD:
    ``robust_z = 0.6745·(x − median) / MAD`` with the |z| > 3.5 rule
    (Iglewicz & Hoaglin's modified z-score). Reference statistics come
    from the REF side only (drift is measured against the reference's
    notion of normal, like ``outlier_drift``).

    Execution: melt both sides once → two tiny median aggregates over the
    ref cells (median, then median absolute deviation — exact
    percentiles, oracle-replayable) broadcast back → ONE conditional
    aggregate counts each side's outliers. ``MAD = 0`` (over half the
    ref values identical) disables the rule for that column (no finite
    z), matching the z-score path's σ=0 guard. Output per column:
    ``column_name, ref_median, ref_mad, ref_n, curr_n, ref_outliers,
    curr_outliers, ref_outlier_rate, curr_outlier_rate, rate_change,
    drift_detected``.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    structs = ", ".join(
        f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS DOUBLE))"
        for c in columns
    )
    melted = (
        df_ref.selectExpr("'r' AS __side", f"inline(array({structs}))")
        .unionByName(df_curr.selectExpr("'c' AS __side", f"inline(array({structs}))"))
        .where(F.col("value").isNotNull())
    )
    # ref median AND MAD from ONE NumPy gather over the ref side
    # (_sorted_quantile_row's fused mad output) — replaces two sequential
    # grouped percentile aggregates whose boxed per-value maps buffered
    # each column's full ref vector in one reducer task twice (and with
    # them the persist of the melt, which then had a single consumer).
    # Values bit-identical: same median, same |value − median| median.
    from pyspark_data_drift_detector_spark.operators.profile import (
        _sorted_quantile_row,
    )

    gathered = _sorted_quantile_row(
        df_ref,
        [(f"__b{i}", c, None, f"__mad{i}") for i, c in enumerate(columns)],
        [0.5],
    )
    mad = gathered.selectExpr(
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'ref_median', __b{i}[0],"
            f" 'ref_mad', __mad{i})"
            for i, c in enumerate(columns)
        )
        + "))"
    ).where("ref_median IS NOT NULL")
    zt, rt = float(z_threshold), float(rate_change_threshold)
    enr = melted.join(F.broadcast(mad), "column_name")
    # CASE, not AND: ANSI mode evaluates both AND operands, so the division
    # would throw DIVIDE_BY_ZERO on a MAD=0 column before the guard applies
    is_out = (
        f"CASE WHEN ref_mad > 0"
        f" THEN abs(0.6745D * (value - ref_median) / ref_mad) > {zt!r}D"
        f" ELSE false END"
    )
    out = enr.groupBy("column_name").agg(
        *[
            F.expr(e)
            for e in (
                "max(ref_median) AS ref_median",
                "max(ref_mad) AS ref_mad",
                "sum(CAST(__side = 'r' AS BIGINT)) AS ref_n",
                "sum(CAST(__side = 'c' AS BIGINT)) AS curr_n",
                f"sum(CAST((__side = 'r' AND {is_out}) AS BIGINT)) AS ref_outliers",
                f"sum(CAST((__side = 'c' AND {is_out}) AS BIGINT)) AS curr_outliers",
            )
        ]
    )
    return out.selectExpr(
        "*",
        "ref_outliers / greatest(ref_n, 1) AS ref_outlier_rate",
        "curr_outliers / greatest(curr_n, 1) AS curr_outlier_rate",
    ).selectExpr(
        "*",
        "curr_outlier_rate - ref_outlier_rate AS rate_change",
        f"abs(curr_outlier_rate - ref_outlier_rate) > {rt!r}D AS drift_detected",
    )
