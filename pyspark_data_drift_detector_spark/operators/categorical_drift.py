"""Categorical drift: JS distance, chi-square, category-set changes.

The reference collects every frequency table to the driver and does the
JS/chi² math in Python loops (``categorical_analyzer.py:126-437``,
SURVEY §2.9 M6-M8, M18, M20, §2.3 J2). Here the frequency tables stay
distributed: ref and curr are aligned with ONE full-outer equi-join on
``(column_name, value)`` (the J1 pattern the reference itself uses in
``rare_event_analyzer.py:49-51``), and JS / chi² / new-missing categories
are aggregate expressions over the joined table. Only the final
O(columns)-row drift summary ever reaches the driver.

Semantics reproduced (with citations):
- per-side distributions = top-20 categories, frequencies over non-null
  rows of the full column (``categorical_analyzer.py:145-161``); top-k is
  taken per side BEFORE alignment, so the JS support is the union of the
  two top-k sets exactly as the reference's dict union builds it
  (``categorical_analyzer.py:284-287``);
- JS midpoint formulation, log2, sqrt → distance
  (``categorical_analyzer.py:269-303``);
- chi² over the FULL category union (not top-k), non-null, cells included
  only when both expected counts ≥ 5, dof = k-1, total < 10 → no test
  (``categorical_analyzer.py:342-390``);
- step-ladder p-value approximation (``categorical_analyzer.py:395-437``)
  as the default (oracle-faithful); ``p_value_mode='exact'`` computes the
  real chi² survival function via a vectorized pandas UDF over the tiny
  per-column table (flagged deviation, SURVEY §7.4 risk 2);
- new/missing category ratios relative to the ref top-k category count
  (``categorical_analyzer.py:201-210``);
- drift decision/causes (``categorical_analyzer.py:65-94``) — note the
  reference compares JS distance against ``category_threshold``, not
  ``js_distance_threshold`` (SURVEY §2.9 M20) — preserved;
- weighted drift score (``categorical_analyzer.py:439-491``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from pyspark_data_drift_detector_spark.functions.lifetime import owned_result

DEFAULT_CAT_THRESHOLDS: dict[str, float] = {
    "category_threshold": 0.03,
    "chi_square_pvalue": 0.05,
    "null_threshold": 0.005,
}


# The chi² p-value ladder / significance ladder / critical-value table
# (categorical_analyzer.py:410-470) live ONLY in the SQL-string assembly
# inside categorical_drift below — the former Column-API twins were
# removed after the inline-SQL conversion so there is a single canonical
# encoding.


def align_frequencies(ref_freq: DataFrame, curr_freq: DataFrame) -> DataFrame:
    """Full-outer join of two frequency tables on (column_name, value).

    Missing categories get cnt=0, freq=0.0 on the absent side (the J1
    pattern, ``rare_event_analyzer.py:49-51``). The shuffle key includes the
    category value, so skewed single-category volume never concentrates.
    """
    ref = ref_freq.select(
        "column_name",
        "value",
        F.col("cnt").alias("ref_cnt"),
        F.col("freq").alias("ref_freq"),
    )
    curr = curr_freq.select(
        "column_name",
        "value",
        F.col("cnt").alias("curr_cnt"),
        F.col("freq").alias("curr_freq"),
    )
    return ref.join(curr, on=["column_name", "value"], how="full_outer").fillna(
        {"ref_cnt": 0, "curr_cnt": 0, "ref_freq": 0.0, "curr_freq": 0.0}
    )


def js_distance_by_column(aligned: DataFrame) -> DataFrame:
    """Jensen-Shannon distance per column from an aligned frequency table."""
    p = F.col("ref_freq")
    q = F.col("curr_freq")
    m = (p + q) / 2
    kl_p = F.when((p > 0) & (m > 0), p * F.log2(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when((q > 0) & (m > 0), q * F.log2(q / m)).otherwise(F.lit(0.0))
    return aligned.groupBy("column_name").agg(
        F.sqrt(F.greatest(F.lit(0.0), (F.sum(kl_p) + F.sum(kl_q)) / 2)).alias("js_distance")
    )


def chi_square_by_column(aligned_full: DataFrame) -> DataFrame:
    """Chi-square homogeneity statistic per column, fully distributed.

    Input must be the alignment of FULL (untruncated) frequency tables.
    Output: ``column_name, chi_square, degrees_of_freedom`` (nulls when the
    test is invalid: <2 categories or total count <10).
    """
    from pyspark_data_drift_detector_spark.operators.frequency import with_key_totals

    cells = (
        with_key_totals(
            aligned_full,
            {"ref_total": F.sum("ref_cnt"), "curr_total": F.sum("curr_cnt")},
        )
        .withColumn("total_sum", F.col("ref_total") + F.col("curr_total"))
        .withColumn("cat_sum", F.col("ref_cnt") + F.col("curr_cnt"))
        .withColumn("exp_ref", F.col("ref_total") * F.col("cat_sum") / F.col("total_sum"))
        .withColumn("exp_curr", F.col("curr_total") * F.col("cat_sum") / F.col("total_sum"))
        .withColumn(
            "contrib",
            F.when(
                (F.col("exp_ref") >= 5) & (F.col("exp_curr") >= 5),
                F.pow(F.col("ref_cnt") - F.col("exp_ref"), 2) / F.col("exp_ref")
                + F.pow(F.col("curr_cnt") - F.col("exp_curr"), 2) / F.col("exp_curr"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return cells.groupBy("column_name").agg(
        F.when(
            (F.count(F.lit(1)) >= 2) & (F.max("total_sum") >= 10), F.sum("contrib")
        ).alias("chi_square"),
        F.when(
            (F.count(F.lit(1)) >= 2) & (F.max("total_sum") >= 10), F.count(F.lit(1)) - 1
        ).cast("int").alias("degrees_of_freedom"),
    )


def category_changes_by_column(aligned_topk: DataFrame) -> DataFrame:
    """New/missing category counts + ratios from aligned top-k tables.

    'New' = in curr's top-k support but not ref's; ratios are relative to
    the ref top-k category count (``categorical_analyzer.py:207-210``).
    """
    is_new = (F.col("ref_cnt") == 0).cast("long")
    is_missing = (F.col("curr_cnt") == 0).cast("long")
    in_ref = (F.col("ref_cnt") > 0).cast("long")
    return aligned_topk.groupBy("column_name").agg(
        F.sum(is_new).alias("new_categories"),
        F.sum(is_missing).alias("missing_categories"),
        F.sum(in_ref).alias("ref_categories"),
        (F.sum(is_new) / F.greatest(F.sum(in_ref), F.lit(1))).alias("new_categories_ratio"),
        (F.sum(is_missing) / F.greatest(F.sum(in_ref), F.lit(1))).alias(
            "missing_categories_ratio"
        ),
    )


def _exact_p_value(df: DataFrame) -> DataFrame:
    """Vectorized exact chi² survival function over the tiny per-column table."""
    from pyspark_data_drift_detector_spark.functions.udfs import chi2_sf_udf

    return df.withColumn(
        "p_value", chi2_sf_udf(F.col("chi_square"), F.col("degrees_of_freedom"))
    )


def categorical_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    thresholds: dict[str, float] | None = None,
    top_k: int | None = 20,
    p_value_mode: str = "ladder",
) -> DataFrame:
    """Full categorical drift row per column (M6-M8, M18, M20 combined).

    ``top_k``: the reference keeps TWO JS supports — the categorical analyzer
    restricts each side to its top-20 categories
    (``categorical_analyzer.py:148-161``) while the distribution analyzer
    runs the full support (``distribution_analyzer.py:481-513``, M8).
    ``top_k=None`` selects the full-support semantics; same plan, the rank
    cap simply folds to TRUE.

    Execution shape: ONE scan of each side → side-tagged unpivot → one
    ``groupBy(column_name, value)`` shuffle (``pair_frequency_cells``) →
    window ranks + two tiny per-column aggregates over the O(categories)
    cells table. No full-outer join, no second scan.
    """
    from pyspark_data_drift_detector_spark.operators.frequency import pair_frequency_cells

    return categorical_drift_from_cells(
        pair_frequency_cells(df_ref, df_curr, columns), thresholds, top_k, p_value_mode
    )


@owned_result
def categorical_drift_from_cells(
    cells: DataFrame,
    thresholds: dict[str, float] | None = None,
    top_k: int | None = 20,
    p_value_mode: str = "ladder",
) -> DataFrame:
    """M6-M8/M18/M20 scoring over a pre-computed aligned cells table.

    ``cells``: one row per distinct category — ``column_name, value
    (nullable = the null-count row), ref_cnt, curr_cnt`` — as produced by
    ``pair_frequency_cells``, or re-derived from any additive category
    state (``mergeable.merged_category_cells``: the incremental path whose
    windows merge WITHOUT re-scanning data). Totals and top-k membership
    come from ``frequency.with_top_k``: below its size gate the cells are
    read once; above it they are kept, and a call outside an ``owned_run``
    returns its O(columns) result as a local relation.
    """
    th = dict(DEFAULT_CAT_THRESHOLDS)
    th.update(thresholds or {})
    from pyspark_data_drift_detector_spark.operators.frequency import with_top_k

    # a NULL value is never ranked: it enters the ranks with count 0, which
    # is never a member and ranks after every positive count. Derived
    # expressions are SQL strings — see the profile module docstring for why
    # (py4j round-trips dominated driver-side plan construction)
    sides = ("ref", "curr")
    nn = with_top_k(
        cells.selectExpr(
            "*", *[f"CASE WHEN value IS NULL THEN 0 ELSE {pre}_cnt END AS {pre}" for pre in sides]
        ),
        top_k,
        count_cols=sides,
        sums={
            "ref_n_rows": F.sum("ref_cnt"),
            "curr_n_rows": F.sum("curr_cnt"),
            "ref_total": F.sum("ref"),
            "curr_total": F.sum("curr"),
        },
    ).selectExpr(
        "*",
        *[
            f"CASE WHEN value IS NOT NULL AND {pre}_total > 0"
            f" THEN {pre}_cnt / {pre}_total ELSE 0.0D END AS {pre}_freq"
            for pre in sides
        ],
    )

    # JS over the union of the two per-side top-k supports: a category keeps
    # probability 0 on a side whose top-k it didn't make (dict-union
    # semantics of categorical_analyzer.py:284-303)
    p = "CASE WHEN member_ref THEN ref_freq ELSE 0.0D END"
    q = "CASE WHEN member_curr THEN curr_freq ELSE 0.0D END"
    m = f"(({p}) + ({q})) / 2"
    in_js = "(member_ref OR member_curr)"
    kl_p = (
        f"CASE WHEN {in_js} AND ({p}) > 0 AND ({m}) > 0"
        f" THEN ({p}) * log2(({p}) / ({m})) ELSE 0.0D END"
    )
    kl_q = (
        f"CASE WHEN {in_js} AND ({q}) > 0 AND ({m}) > 0"
        f" THEN ({q}) * log2(({q}) / ({m})) ELSE 0.0D END"
    )

    # chi² over the FULL non-null support (categorical_analyzer.py:342-390)
    exp_ref = "(ref_total * (ref_cnt + curr_cnt) / (ref_total + curr_total))"
    exp_curr = "(curr_total * (ref_cnt + curr_cnt) / (ref_total + curr_total))"
    chi_contrib = (
        f"CASE WHEN value IS NOT NULL AND {exp_ref} >= 5 AND {exp_curr} >= 5"
        f" THEN power(ref_cnt - {exp_ref}, 2) / {exp_ref}"
        f" + power(curr_cnt - {exp_curr}, 2) / {exp_curr} ELSE 0.0D END"
    )

    is_new = "CAST((member_curr AND NOT member_ref) AS BIGINT)"
    is_missing = "CAST((member_ref AND NOT member_curr) AS BIGINT)"
    in_ref = "CAST(member_ref AS BIGINT)"
    nn_cats = "sum(CAST(value IS NOT NULL AS BIGINT))"

    valid_chi = f"({nn_cats} >= 2) AND (max(ref_total + curr_total) >= 10)"
    stats = nn.groupBy("column_name").agg(
        *[
            F.expr(e)
            for e in (
                f"sqrt(greatest(0.0D, (sum({kl_p}) + sum({kl_q})) / 2)) AS js_distance",
                f"CASE WHEN {valid_chi} THEN sum({chi_contrib}) END AS chi_square",
                f"CAST(CASE WHEN {valid_chi} THEN {nn_cats} - 1 END AS INT)"
                " AS degrees_of_freedom",
                f"sum({is_new}) AS new_categories",
                f"sum({is_missing}) AS missing_categories",
                f"sum({in_ref}) AS ref_categories",
                f"sum({is_new}) / greatest(sum({in_ref}), 1) AS new_categories_ratio",
                f"sum({is_missing}) / greatest(sum({in_ref}), 1)"
                " AS missing_categories_ratio",
                # per-column summary folded into the SAME aggregation — no extra pass
                "max(ref_n_rows) AS ref_n_rows",
                "max(curr_n_rows) AS curr_n_rows",
                "sum(CASE WHEN value IS NULL THEN ref_cnt ELSE 0 END) AS __ref_nulls",
                "sum(CASE WHEN value IS NULL THEN curr_cnt ELSE 0 END) AS __curr_nulls",
                "sum(CAST((value IS NOT NULL AND ref_cnt > 0) AS BIGINT))"
                " AS ref_distinct_count",
                "sum(CAST((value IS NOT NULL AND curr_cnt > 0) AS BIGINT))"
                " AS curr_distinct_count",
            )
        ]
    )
    if p_value_mode == "exact":
        stats = _exact_p_value(stats)
    else:
        # ladder p-value as SQL — categorical_analyzer.py:423-437. cv is
        # the :410-421 critical-value table (CASE preserves the when-order)
        cv = (
            "CASE WHEN degrees_of_freedom > 10"
            " THEN degrees_of_freedom + sqrt(2.0D * degrees_of_freedom) "
            + " ".join(
                f"WHEN degrees_of_freedom = {k} THEN {v}D"
                for k, v in {
                    1: 3.84, 2: 5.99, 3: 7.81, 4: 9.49, 5: 11.07,
                    6: 12.59, 7: 14.07, 8: 15.51, 9: 16.92, 10: 18.31,
                }.items()
            )
            + " ELSE 3.84D END"
        )
        stats = stats.selectExpr(
            "*",
            "CASE WHEN chi_square < 0.001D THEN 1.0D"
            f" WHEN chi_square > 3 * ({cv}) THEN 0.001D"
            f" WHEN chi_square > 2 * ({cv}) THEN 0.01D"
            f" WHEN chi_square > ({cv}) THEN 0.05D"
            f" ELSE least(1.0D, greatest(0.05D, 1.0D - (chi_square / ({cv})) * 0.95D))"
            " END AS p_value",
        )

    out = stats.selectExpr(
        "* EXCEPT (__ref_nulls, __curr_nulls)",
        # an empty side has NULL ratios, which score as no null drift
        "try_divide(__ref_nulls, ref_n_rows) AS ref_null_ratio",
        "try_divide(__curr_nulls, curr_n_rows) AS curr_null_ratio",
        "try_divide(__curr_nulls, curr_n_rows) - try_divide(__ref_nulls, ref_n_rows)"
        " AS null_diff",
    )

    js_c = "coalesce(js_distance, 0.0D)"
    p_c = "coalesce(p_value, 1.0D)"
    null_c = "coalesce(null_diff, 0.0D)"
    new_r = "coalesce(new_categories_ratio, 0.0D)"
    miss_r = "coalesce(missing_categories_ratio, 0.0D)"

    cat_t = f"{th['category_threshold']!r}D"
    checks = [
        (f"{js_c} > {cat_t}", "distribution_change"),
        (f"{p_c} < {th['chi_square_pvalue']!r}D", "statistical_significance"),
        (f"abs({null_c}) > {th['null_threshold']!r}D", "null_proportion"),
        (f"{new_r} > {cat_t}", "new_categories"),
        (f"{miss_r} > {cat_t}", "missing_categories"),
    ]

    # weighted score — categorical_analyzer.py:473-491; the chi term is the
    # :461-470 significance ladder
    chi_sig = (
        f"CASE WHEN {p_c} <= 0.001D THEN 1.0D WHEN {p_c} <= 0.01D THEN 0.8D"
        f" WHEN {p_c} <= 0.05D THEN 0.6D WHEN {p_c} <= 0.1D THEN 0.3D"
        " ELSE 0.0D END"
    )
    score = (
        f"0.4D * least(1.0D, {js_c} * 4) + 0.3D * ({chi_sig})"
        f" + 0.1D * least(1.0D, abs({null_c}) * 10)"
        f" + 0.2D * least(1.0D, greatest({new_r}, {miss_r}) * 2)"
    )

    causes = (
        "array_compact(array("
        + ", ".join(f"CASE WHEN {c} THEN '{name}' END" for c, name in checks)
        + "))"
    )
    return out.selectExpr(
        "*",
        "(" + " OR ".join(c for c, _ in checks) + ") AS drift_detected",
        f"{causes} AS drift_causes",
        f"least(1.0D, {score}) AS drift_score",
        f"CASE WHEN least(1.0D, {score}) < 0.1D THEN 'None'"
        f" WHEN least(1.0D, {score}) < 0.25D THEN 'Low'"
        f" WHEN least(1.0D, {score}) < 0.5D THEN 'Medium'"
        f" WHEN least(1.0D, {score}) < 0.75D THEN 'High'"
        " ELSE 'Critical' END AS drift_severity",
    )


def key_overlap_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    key_cols: list[str],
    churn_threshold: float = 0.5,
) -> DataFrame:
    """Cohort overlap between snapshots per key column — the
    retention/churn panel: how many of the reference's distinct keys
    (users, accounts, devices) are still present, how many vanished,
    how many are new. Frequency drift can be zero while the POPULATION
    silently rotated; this is the check that catches it.

    Per key column: ``ref_keys, curr_keys, retained, churned, new_keys,
    jaccard`` (|∩| / |∪|), ``churn_rate`` (churned / ref_keys),
    ``new_rate`` (new / curr_keys), ``drift_detected``
    (``churn_rate > churn_threshold``). NULL keys count as a real key
    (coalesced to a sentinel — a feed that starts NULLing its id column
    should look like churn, not nothing).

    Scale shape: ONE melt per side → side-tagged ``groupBy(column,
    key)`` (the shuffle key includes the key value — no hot reducer,
    map-side combine collapses duplicates) → O(distinct keys) flag rows
    → one tiny ``groupBy(column)`` rollup. No join: presence flags come
    from conditional sums in the same aggregate.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    if not key_cols:
        raise ValueError("no key columns")
    ensure_safe_columns(key_cols)
    nul = "\\u0001<null>"

    def melt(df: DataFrame, side: str) -> DataFrame:
        cells = ", ".join(
            f"named_struct('column_name', '{c}',"
            f" 'key', coalesce(CAST(`{c}` AS STRING), '{nul}'))"
            for c in key_cols
        )
        return df.selectExpr(f"'{side}' AS side", f"inline(array({cells}))")

    flags = (
        melt(df_ref, "r")
        .unionByName(melt(df_curr, "c"))
        .groupBy("column_name", "key")
        .agg(
            F.expr("max(CAST(side = 'r' AS INT)) AS in_ref"),
            F.expr("max(CAST(side = 'c' AS INT)) AS in_curr"),
        )
    )
    return (
        flags.groupBy("column_name")
        .agg(
            F.expr("CAST(sum(in_ref) AS BIGINT) AS ref_keys"),
            F.expr("CAST(sum(in_curr) AS BIGINT) AS curr_keys"),
            F.expr(
                "CAST(sum(in_ref * in_curr) AS BIGINT) AS retained"
            ),
            F.expr(
                "CAST(sum(in_ref * (1 - in_curr)) AS BIGINT) AS churned"
            ),
            F.expr(
                "CAST(sum((1 - in_ref) * in_curr) AS BIGINT) AS new_keys"
            ),
            F.expr("count(1) AS union_keys"),
        )
        .selectExpr(
            "column_name",
            "ref_keys",
            "curr_keys",
            "retained",
            "churned",
            "new_keys",
            "CAST(retained AS DOUBLE) / greatest(union_keys, 1) AS jaccard",
            "CAST(churned AS DOUBLE) / greatest(ref_keys, 1) AS churn_rate",
            "CAST(new_keys AS DOUBLE) / greatest(curr_keys, 1) AS new_rate",
            f"CAST(churned AS DOUBLE) / greatest(ref_keys, 1)"
            f" > {float(churn_threshold)!r}D AS drift_detected",
        )
    )


def chi2_cell_residuals(
    ref: DataFrame,
    curr: DataFrame,
    columns: list[str],
    significance: float = 2.0,
) -> DataFrame:
    """Per-cell drill-down of the chi² homogeneity test: WHICH categories
    drive the statistic. The reference stops at the per-column p-value
    (categorical_analyzer.py:410-470 ladder); the question an analyst asks
    next — "which value shifted?" — is answered by the adjusted
    standardized residuals (Haberman 1973) of the 2×C ref/curr table:

        ``r = (o − e) / sqrt(e · (1 − row_total/N) · (1 − col_total/N))``

    computed for the *curr* cell of each category (the ref cell's residual
    is its exact negation in a 2-row table, so one row per category
    carries the full picture). ``|r| > 2`` ≈ the cell individually
    significant at ~95%.

    Plan shape: both sides reduce to O(categories) frequency tables in
    one groupBy each (map-side partials), the full-outer align shuffles
    on (column, value) so single-category volume skew never concentrates,
    and the per-column totals ride a broadcast O(columns) panel. Nothing
    downstream of the two aggregates touches corpus-sized data.
    """
    from pyspark_data_drift_detector_spark.operators.frequency import (
        frequency_table,
    )

    aligned = align_frequencies(
        frequency_table(ref, columns), frequency_table(curr, columns)
    )
    totals = aligned.groupBy("column_name").agg(
        F.sum("ref_cnt").alias("__rt"), F.sum("curr_cnt").alias("__ct")
    )
    cells = aligned.join(F.broadcast(totals), "column_name").withColumn(
        "__n", (F.col("__rt") + F.col("__ct")).cast("double")
    )
    col_total = (F.col("ref_cnt") + F.col("curr_cnt")).cast("double")
    e_curr = F.col("__ct").cast("double") * col_total / F.col("__n")
    denom = F.sqrt(
        e_curr
        * (F.lit(1.0) - F.col("__ct") / F.col("__n"))
        * (F.lit(1.0) - col_total / F.col("__n"))
    )
    resid = F.when(
        denom > 0, (F.col("curr_cnt") - e_curr) / denom
    )  # single-category columns (col_total == N) → undefined → NULL
    return (
        cells.withColumn("expected_curr", e_curr)
        .withColumn("std_residual", resid)
        .withColumn(
            "significant",
            F.when(
                resid.isNotNull(), F.abs(resid) > F.lit(significance)
            ).otherwise(F.lit(False)),
        )
        .select(
            "column_name",
            "value",
            F.col("ref_cnt").cast("long").alias("ref_cnt"),
            F.col("curr_cnt").cast("long").alias("curr_cnt"),
            "expected_curr",
            "std_residual",
            "significant",
        )
    )
