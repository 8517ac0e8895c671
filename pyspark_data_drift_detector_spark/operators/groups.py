"""Group (dimension) drift analysis — SURVEY §2.9 M26 + M21.

The reference runs a per-category ``filter()`` loop issuing O(categories ×
columns) Spark jobs (``group_analyzer.py:64-102``, flagged in SURVEY §4 as
the single worst scaling behavior). Here each metric family is ONE
``groupBy(dimension_value, ...)`` aggregate over a side-tagged union —
job count is constant in the number of groups.

Semantics reproduced from ``group_analyzer.py``:
- percent-change convention ``:516-532`` (0→0 = 0, 0→x = 1, else Δ/|ref|);
- numeric stats mean/stddev/median/range with nulls coalesced to 0
  (``:292-327``), skipped when null ratio > 0.9 on either side (``:287``);
- categorical: top-10 per side, frequencies over group totals (nulls
  included in the denominator), avg |freq diff| over the common top-10
  categories, 1.0 when none are common (``:375-410``);
- per-metric drift flags: null>0.05, mean>0.1, stddev>0.2, median>0.1,
  freq>0.1 (``:351-369``, ``:433-434``);
- overall score = mean of null drifts + |mean|,|stddev|,|median| changes +
  freq drifts, capped at 1 (``:437-442``);
- group drift decision (``:449-514``): score ≥ 0.1 ∨ ≥3 drifted metrics ∨
  |rowΔ| ≥ 0.25 ∨ any nullΔ ≥ 0.1 ∨ any |meanΔ| ≥ 0.2 ∨ any |medianΔ| ≥ 0.2
  ∨ any freq drift ≥ 0.15 ∨ any |distinctΔ| ≥ 0.25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from pyspark_data_drift_detector_spark.functions.lifetime import (
    collect_local,
    owned_result,
    owned_run,
)


def percent_change_expr(ref: Column, curr: Column) -> Column:
    """group_analyzer.py:516-532 convention."""
    return (
        F.when(ref == 0, F.when(curr == 0, F.lit(0.0)).otherwise(F.lit(1.0)))
        .otherwise((curr - ref) / F.abs(ref))
    )


def _tagged_union(df_ref: DataFrame, df_curr: DataFrame, cols: list[str]) -> DataFrame:
    return df_ref.select(F.lit("r").alias("__side"), *cols).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *cols)
    )


def _as_dims(dimension) -> list[str]:
    return [dimension] if isinstance(dimension, str) else list(dimension)


@owned_result
def top_groups(
    df_ref: DataFrame,
    df_curr: DataFrame,
    dimension,
    top_k: int = 20,
) -> DataFrame:
    """Top-k dimension values by combined row count (T3 semantics,
    ``group_analyzer.py:167-204``), with per-side counts and pct change.

    ``dimension`` may be one column or a list — all dimensions rank in one
    pass (within each ``dimension_column``)."""
    dims = _as_dims(dimension)
    tagged = _tagged_union(df_ref, df_curr, dims)
    dim_structs = ", ".join(
        f"named_struct('dimension_column', '{d}',"
        f" 'dimension_value', CAST(`{d}` AS STRING))"
        for d in dims
    )
    melted = tagged.selectExpr("__side", f"inline(array({dim_structs}))")
    counts = melted.groupBy("dimension_column", "dimension_value").agg(
        F.expr("sum(CAST(__side = 'r' AS BIGINT)) AS ref_rows"),
        F.expr("sum(CAST(__side = 'c' AS BIGINT)) AS curr_rows"),
    )
    from pyspark_data_drift_detector_spark.operators.frequency import with_top_k

    ranked = with_top_k(
        counts.withColumn("rows", F.col("ref_rows") + F.col("curr_rows")),
        top_k,
        ("dimension_column",),
        ("rows",),
        value_col="dimension_value",
    )
    return (
        ranked.filter("member_rows")
        .drop("rows", "member_rows")
        .withColumn(
            "row_pct_change", percent_change_expr(F.col("ref_rows"), F.col("curr_rows"))
        )
    )


def _dim_melt(
    df_ref: DataFrame,
    df_curr: DataFrame,
    dimensions: list[str],
    columns: list[str],
    value_cast: str | None,
    keep_groups: DataFrame | None = None,
) -> DataFrame:
    """Side-tagged unpivot over dimensions (and optionally columns): one row
    per (side, dimension) — times columns when ``value_cast`` is set — per
    source row. Lets ALL dimensions' group analyses share one scan+shuffle —
    the dimension becomes data instead of three separate query plans.

    ``value_cast=None`` skips the column unpivot and keeps the metric
    columns as-is (wide): callers whose aggregation can be expressed as a
    wide ``agg`` avoid the ×columns row multiplication entirely.

    ``keep_groups`` (columns ``dimension_column, dimension_value``) restricts
    the melt to those groups via a broadcast semi join BEFORE the column
    explode. With a high-cardinality dimension (e.g. a 5%-rule supplier key)
    this is the difference between aggregating percentile sketches for every
    group and only for the top-k that survive the final join anyway — the
    only design that holds at 100 TB. Rows with a NULL dimension value drop
    out, matching the final per-key equi-join, which never matches NULLs.
    """
    tagged = _tagged_union(df_ref, df_curr, list(dict.fromkeys([*dimensions, *columns])))
    dim_structs = ", ".join(
        f"named_struct('dimension_column', '{d}',"
        f" 'dimension_value', CAST(`{d}` AS STRING))"
        for d in dimensions
    )
    melted = tagged.selectExpr(
        "__side",
        f"inline(array({dim_structs}))",
        *[f"`{c}`" for c in columns],
    )
    if keep_groups is not None:
        melted = melted.join(
            F.broadcast(keep_groups.select("dimension_column", "dimension_value")),
            on=["dimension_column", "dimension_value"],
            how="left_semi",
        )
    if value_cast is None:
        return melted
    col_structs = ", ".join(
        f"named_struct('column_name', '{c}', 'v', CAST(`{c}` AS {value_cast}))"
        for c in columns
    )
    return melted.selectExpr(
        "__side",
        "dimension_column",
        "dimension_value",
        f"inline(array({col_structs}))",
    )


def group_numeric_stats(
    df_ref: DataFrame,
    df_curr: DataFrame,
    dimension: str,
    columns: list[str],
    exact_median: bool = False,
    keep_groups: DataFrame | None = None,
) -> DataFrame:
    """Per-(group, numeric column) stats + changes, one shuffle total.

    ``exact_median=False`` (default) uses ``percentile_approx`` — the exact
    sort-based percentile buffers every group's values in the aggregation
    buffer, which at high-cardinality dimensions (thousands of groups) is
    the dominant cost and would not survive 100 TB. Exact mode exists for
    oracle-checked fidelity (DuckDB ``quantile_cont``).

    ``dimension`` may be a single column or a list — all dimensions share
    ONE scan and ONE shuffle (the dimension is data, not plan).
    """
    # WIDE aggregate keyed by (dimension) only — the ×columns unpivot would
    # multiply every input row before the shuffle; here each metric column
    # contributes agg expressions instead of rows (measured ~1.9x faster at
    # 3 dims × 3 numeric columns), and the unpivot happens AFTER aggregation
    # on the O(groups × columns) result.
    melted = _dim_melt(
        df_ref, df_curr, _as_dims(dimension), columns, None, keep_groups=keep_groups
    )

    # SQL-string assembly — see profile._quantile_agg_sql for why (py4j
    # round-trips dominated driver-side plan construction)
    sides = {"ref": "__side = 'r'", "curr": "__side = 'c'"}
    aggs: list[str] = []
    qaggs: list[str] = []
    for pre, cond in sides.items():
        aggs.append(f"sum(CAST({cond} AS BIGINT)) AS `{pre}_rows`")
    stat_names = ["null_count", "mean", "stddev", "min", "max", "median"]
    for i, c in enumerate(columns):
        dc = f"CAST(`{c}` AS DOUBLE)"
        for pre, cond in sides.items():
            v = f"CASE WHEN {cond} THEN {dc} END"
            # accuracy 1000 ≈ the reference's approxQuantile relative error
            # 0.01 (distribution_analyzer.py:106-109); keeps per-group sketch
            # state small
            median = (
                f"percentile({v}, 0.5D)"
                if exact_median
                else f"percentile_approx({v}, 0.5D, 1000)"
            )
            aggs += [
                f"sum(CAST(({cond} AND {dc} IS NULL) AS BIGINT)) AS `__{i}_{pre}_null_count`",
                f"avg({v}) AS `__{i}_{pre}_mean`",
                f"stddev({v}) AS `__{i}_{pre}_stddev`",
                f"min({v}) AS `__{i}_{pre}_min`",
                f"max({v}) AS `__{i}_{pre}_max`",
            ]
            qaggs.append(f"{median} AS `__{i}_{pre}_median`")

    def _gagg(exprs: list[str]) -> DataFrame:
        return melted.groupBy("dimension_column", "dimension_value").agg(
            *[F.expr(e) for e in exprs]
        )

    # Medians (TypedImperativeAggregates) aggregate in their OWN groupBy and
    # join back on the group key: one percentile in an Aggregate node forces
    # the whole node onto interpreted ObjectHashAggregate, dragging the ~80
    # simple stats out of whole-stage codegen (measured 3.7s → 2.3s at
    # sf0.1). Both outputs are O(groups) rows — the join is broadcast-sized.
    keys = ["dimension_column", "dimension_value"]
    # with keep_groups the medians frame is bounded by construction
    # (≤ dims × top_k rows) — broadcast it so the O(groups) join never
    # plans as a sort-merge of two exchanges; unbounded group counts
    # (no keep_groups) keep the planner's choice
    qframe = _gagg(qaggs)
    if keep_groups is not None:
        qframe = F.broadcast(qframe)
    wide = _gagg(aggs).join(qframe, on=keys, how="left")
    structs = [
        "named_struct('column_name', '{c}', {fields})".format(
            c=c,
            fields=", ".join(
                f"'{pre}_{s}', `__{i}_{pre}_{s}`" for pre in sides for s in stat_names
            ),
        )
        for i, c in enumerate(columns)
    ]
    stats = wide.selectExpr(
        "dimension_column",
        "dimension_value",
        "ref_rows",
        "curr_rows",
        "inline(array(" + ", ".join(structs) + "))",
    )

    def _pct(ref: str, curr: str) -> str:  # percent_change_expr as SQL
        return (
            f"CASE WHEN {ref} = 0 THEN CASE WHEN {curr} = 0 THEN 0.0D ELSE 1.0D END "
            f"ELSE ({curr} - {ref}) / abs({ref}) END"
        )

    def z(pre: str, stat: str) -> str:  # nulls → 0 per reference :305-318
        return f"coalesce({pre}_{stat}, 0.0D)"

    null_pcts = [
        f"{pre}_null_count / greatest({pre}_rows, 1) AS {pre}_null_pct"
        for pre in ("ref", "curr")
    ]
    stats = stats.selectExpr("*", *null_pcts)
    return stats.selectExpr(
        "*",
        "abs(curr_null_pct - ref_null_pct) AS null_drift",
        "(ref_null_pct > 0.9) OR (curr_null_pct > 0.9) AS stats_skipped",
        _pct(z("ref", "mean"), z("curr", "mean")) + " AS mean_pct_change",
        _pct(z("ref", "stddev"), z("curr", "stddev")) + " AS stddev_pct_change",
        _pct(z("ref", "median"), z("curr", "median")) + " AS median_pct_change",
        _pct(
            f"({z('ref', 'max')} - {z('ref', 'min')})",
            f"({z('curr', 'max')} - {z('curr', 'min')})",
        )
        + " AS range_pct_change",
    )


@owned_result
def group_categorical_stats(
    df_ref: DataFrame,
    df_curr: DataFrame,
    dimension,
    columns: list[str],
    top_k: int = 10,
    keep_groups: DataFrame | None = None,
) -> DataFrame:
    """Per-(group, categorical column) top-k frequency drift, one shuffle.

    ``dimension`` may be a single column or a list (shared scan+shuffle).
    Totals and top-k membership come from ``frequency.with_top_k``; a NULL
    category value is ranked like any other cell."""
    melted = (
        _dim_melt(df_ref, df_curr, _as_dims(dimension), columns, "string", keep_groups=keep_groups)
        .withColumnRenamed("v", "value")
        # a dimension is never a metric column of itself
        .filter(F.col("dimension_column") != F.col("column_name"))
    )
    cells = melted.groupBy("dimension_column", "dimension_value", "column_name", "value").agg(
        F.sum((F.col("__side") == "r").cast("long")).alias("ref_cnt"),
        F.sum((F.col("__side") == "c").cast("long")).alias("curr_cnt"),
    )
    from pyspark_data_drift_detector_spark.operators.frequency import with_top_k

    enr = (
        with_top_k(
            cells,
            top_k,
            ("dimension_column", "dimension_value", "column_name"),
            ("ref_cnt", "curr_cnt"),
            sums={"ref_total": F.sum("ref_cnt"), "curr_total": F.sum("curr_cnt")},
        )
        .withColumn("ref_freq", F.col("ref_cnt") / F.greatest(F.col("ref_total"), F.lit(1)))
        .withColumn("curr_freq", F.col("curr_cnt") / F.greatest(F.col("curr_total"), F.lit(1)))
    )
    common = "member_ref_cnt AND member_curr_cnt"
    out = enr.groupBy("dimension_column", "dimension_value", "column_name").agg(
        *[
            F.expr(e)
            for e in (
                "max(ref_total) AS ref_rows",
                "max(curr_total) AS curr_rows",
                "sum(CASE WHEN value IS NULL THEN ref_cnt ELSE 0 END) AS ref_null_count",
                "sum(CASE WHEN value IS NULL THEN curr_cnt ELSE 0 END) AS curr_null_count",
                f"sum(CAST(({common}) AS BIGINT)) AS common_categories_count",
                f"sum(CASE WHEN {common} THEN abs(curr_freq - ref_freq) END)"
                " AS __freq_drift_sum",
                "sum(CAST((member_curr_cnt AND NOT member_ref_cnt) AS BIGINT))"
                " AS new_categories_count",
                "sum(CAST((member_ref_cnt AND NOT member_curr_cnt) AS BIGINT))"
                " AS disappeared_categories_count",
                "sum(CAST(member_ref_cnt AS BIGINT)) AS ref_distinct_count",
                "sum(CAST(member_curr_cnt AS BIGINT)) AS curr_distinct_count",
            )
        ]
    )
    return out.selectExpr(
        "* EXCEPT (__freq_drift_sum)",
        "CASE WHEN common_categories_count > 0 "
        "THEN __freq_drift_sum / common_categories_count ELSE 1.0D END"
        " AS avg_frequency_drift",
        "CASE WHEN ref_distinct_count = 0 THEN "
        "CASE WHEN curr_distinct_count = 0 THEN 0.0D ELSE 1.0D END "
        "ELSE (curr_distinct_count - ref_distinct_count) / abs(ref_distinct_count) END"
        " AS distinct_pct_change",
        "abs(curr_null_count / greatest(curr_rows, 1)"
        " - ref_null_count / greatest(ref_rows, 1)) AS null_drift",
    )


@owned_run()
def group_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    dimension: str,
    numeric_columns: list[str] | None = None,
    categorical_columns: list[str] | None = None,
    group_drift_threshold: float = 0.1,
    top_k_groups: int = 20,
    top_k_values: int = 10,
    exact_median: bool = False,
) -> DataFrame:
    """Per-group drift rollup: score, drifted flag, drifted-metric count.

    Top-k groups are computed FIRST (a cheap count aggregate, materialized —
    it is O(dims × k) rows) and pushed into the stats passes as a broadcast
    semi-filter, so the heavy per-group aggregations only ever see rows of
    groups that survive the final top-k join (SURVEY §7.4 risk 5: cap the
    category fan-out inside Spark, before the expensive work). The result
    reads only local relations; nothing the call cached outlives it.
    """
    numeric_columns = numeric_columns or []
    categorical_columns = categorical_columns or []
    (groups,) = collect_local([top_groups(df_ref, df_curr, dimension, top_k=top_k_groups)])
    keys = groups.select("dimension_column", "dimension_value")
    part_fns = []
    if numeric_columns:

        def _numeric_part() -> DataFrame:
            num = group_numeric_stats(
                df_ref,
                df_curr,
                dimension,
                numeric_columns,
                exact_median=exact_median,
                keep_groups=keys,
            )
            ns = "(NOT stats_skipped)"
            return num.selectExpr(
                "dimension_column",
                "dimension_value",
                f"null_drift + CASE WHEN {ns} THEN abs(mean_pct_change)"
                " + abs(stddev_pct_change) + abs(median_pct_change)"
                " ELSE 0.0D END AS contrib_sum",
                f"1 + CASE WHEN {ns} THEN 3 ELSE 0 END AS contrib_cnt",
                "CAST(null_drift > 0.05 AS INT)"
                f" + CAST({ns} AND abs(mean_pct_change) > 0.1 AS INT)"
                f" + CAST({ns} AND abs(stddev_pct_change) > 0.2 AS INT)"
                f" + CAST({ns} AND abs(median_pct_change) > 0.1 AS INT) AS n_drifted",
                "null_drift >= 0.1 AS any_null",
                f"{ns} AND abs(mean_pct_change) >= 0.2 AS any_mean",
                f"{ns} AND abs(median_pct_change) >= 0.2 AS any_median",
                "false AS any_freq",
                "false AS any_distinct",
            )

        part_fns.append(_numeric_part)
    if categorical_columns:

        def _categorical_part() -> DataFrame:
            cat = group_categorical_stats(
                df_ref,
                df_curr,
                dimension,
                categorical_columns,
                top_k=top_k_values,
                keep_groups=keys,
            )
            return cat.selectExpr(
                "dimension_column",
                "dimension_value",
                "null_drift + avg_frequency_drift AS contrib_sum",
                "2 AS contrib_cnt",
                "CAST(null_drift > 0.05 AS INT)"
                " + CAST(avg_frequency_drift > 0.1 AS INT) AS n_drifted",
                "null_drift >= 0.1 AS any_null",
                "false AS any_mean",
                "false AS any_median",
                "avg_frequency_drift >= 0.15 AS any_freq",
                "abs(distinct_pct_change) >= 0.25 AS any_distinct",
            )

        part_fns.append(_categorical_part)
    if not part_fns:
        raise ValueError("no metric columns")
    # Build AND materialize the metric families concurrently: the numeric
    # family's two aggregate passes overlap the categorical family's cells
    # build. Each part is O(groups) rows.
    parts = collect_local(part_fns)
    contribs = parts[0]
    for p in parts[1:]:
        contribs = contribs.unionByName(p)
    rollup = contribs.groupBy("dimension_column", "dimension_value").agg(
        (F.sum("contrib_sum") / F.greatest(F.sum("contrib_cnt"), F.lit(1))).alias("__raw_score"),
        F.sum("n_drifted").alias("metrics_with_drift"),
        F.max("any_null").alias("any_null"),
        F.max("any_mean").alias("any_mean"),
        F.max("any_median").alias("any_median"),
        F.max("any_freq").alias("any_freq"),
        F.max("any_distinct").alias("any_distinct"),
    )
    out = groups.join(rollup, ["dimension_column", "dimension_value"], "left").withColumn(
        "drift_score", F.least(F.lit(1.0), F.coalesce(F.col("__raw_score"), F.lit(0.0)))
    )
    drifted = (
        (F.col("drift_score") >= group_drift_threshold)
        | (F.col("metrics_with_drift") >= 3)
        | (F.abs(F.col("row_pct_change")) >= 0.25)
        | F.coalesce(F.col("any_null"), F.lit(False))
        | F.coalesce(F.col("any_mean"), F.lit(False))
        | F.coalesce(F.col("any_median"), F.lit(False))
        | F.coalesce(F.col("any_freq"), F.lit(False))
        | F.coalesce(F.col("any_distinct"), F.lit(False))
    )
    return out.withColumn("drift_detected", drifted).drop("__raw_score")


def cube_profile(
    df: DataFrame,
    dims: list[str],
    value_col: str,
    total_label: str = "(all)",
) -> DataFrame:
    """Every dimensional rollup level in ONE shuffle via ``GROUP BY CUBE``.

    The reference's group analyzer (group_analyzer's per-dimension loop)
    profiles one dimension at a time — d dimensions = d full scans. A
    drill-down dashboard actually wants every combination: per
    (dim1, dim2), per dim1 alone, per dim2 alone, and the grand total.
    ``df.cube(*dims)`` computes all 2^d grouping sets in a single
    aggregation: Spark expands the grouping-set id as a synthetic key
    inside the same hash-aggregate, so partial (map-side) aggregation
    still applies and the corpus is read and shuffled ONCE — at 100 TB
    the difference between one pass and 2^d passes.

    ``level`` is the standard grouping-id bitmask (bit per dim, 1 =
    aggregated away; 0 = the finest level, 2^d - 1 = grand total) — the
    same integer ``GROUPING(dims...)`` yields in DuckDB/ANSI engines, so
    the oracle replays it verbatim. Aggregated-away dimension values are
    rendered as ``total_label`` to keep them distinguishable from real
    NULL categories. Two rendering caveats: the relabel makes every
    output dim column STRING (non-string dims are coerced — keep the
    original typed frame for downstream joins), and a genuine category
    equal to ``total_label`` itself is distinguishable only via
    ``level`` (the bitmask, not the label, is authoritative).
    """
    aggs = [
        F.grouping_id(*dims).cast("long").alias("level"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    ]
    out = df.cube(*dims).agg(*aggs)
    for i, d in enumerate(dims):
        # The grouping bitmask (not NULL-ness) marks the aggregated level,
        # so real NULL category values survive as NULLs rather than
        # totals. grouping()/grouping_id() are only valid inside the agg;
        # after it, re-derive each dim's bit from the emitted mask (first
        # dim = most significant bit, the ANSI GROUPING() convention).
        bit = F.shiftright(F.col("level"), len(dims) - 1 - i).bitwiseAND(
            F.lit(1)
        )
        out = out.withColumn(
            d, F.when(bit == 1, F.lit(total_label)).otherwise(F.col(d))
        )
    return out
