"""Mergeable (incremental) numeric profiles.

At 100 TB the corpus arrives partition by partition (daily loads, kafka
windows); re-scanning the union for every drift check is the cost the
reference pays (it re-profiles both full snapshots every run). The sketch
here: profile each partition ONCE into an additive summary, persist the
O(partitions × columns) summary table, and MERGE summaries for any window
— merging is a tiny aggregate over the summary table, no data scan.

Additive state per (partition, column): ``n_rows, n, null_count, sum,
sumsq, min, max`` — all of which merge by +/min/max, so the merge is
exact algebra (the same partial-aggregate shapes Spark's own
``avg``/``stddev`` merge internally; sum-of-squares keeps the state
additive where Welford's M2 would need pairwise combination). Mean and
sample stddev are derived AFTER merging. Quantiles are deliberately not
carried — exact quantiles are not finitely mergeable; use the KLL sketch
state (``partitioned_quantiles``) when mergeable quantiles are required.

``incremental_profile`` = ``partitioned_profile`` → filter to a window →
``merge_profiles``: the batch-incremental pattern a daily pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns, qs
from pyspark_data_drift_detector_spark.operators.categorical_drift import (
    categorical_drift_from_cells,
)
from pyspark_data_drift_detector_spark.operators.frequency import with_key_totals
from pyspark_data_drift_detector_spark.operators.numeric_drift import numeric_drift_from_joined


def partitioned_profile(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
) -> DataFrame:
    """Additive per-partition profile state, one wide pass.

    ``partition_by``: a column or expression labeling each row's partition
    (a date, an ingest batch id, a bucket). Output: one row per
    ``(partition_id, column_name)`` with the additive state.
    """
    if not columns:
        raise ValueError("no columns to profile")
    part = F.expr(partition_by) if isinstance(partition_by, str) else partition_by
    aggs: list[str] = ["count(1) AS `__n_rows`"]
    for c in columns:
        dc = f"CAST(`{c}` AS DOUBLE)"
        aggs += [
            f"count({dc}) AS `{c}__n`",
            f"sum(CAST(`{c}` IS NULL AS BIGINT)) AS `{c}__nulls`",
            f"sum({dc}) AS `{c}__sum`",
            f"sum({dc} * {dc}) AS `{c}__sumsq`",
            f"min({dc}) AS `{c}__min`",
            f"max({dc}) AS `{c}__max`",
        ]
    wide = df.withColumn("__pid", part.cast("string")).groupBy("__pid").agg(
        *[F.expr(a) for a in aggs]
    )
    structs = ", ".join(
        "named_struct("
        f"'column_name', '{c}', 'n_rows', `__n_rows`, 'n', `{c}__n`, "
        f"'null_count', `{c}__nulls`, 'sum', `{c}__sum`, 'sumsq', `{c}__sumsq`, "
        f"'min', `{c}__min`, 'max', `{c}__max`)"
        for c in columns
    )
    return wide.selectExpr(
        "__pid AS partition_id", f"inline(array({structs}))"
    )


#: the additive merge: ``(merged name, aggregate, state column)``
_MERGE_AGGS = (
    ("n_rows", "sum", "n_rows"), ("n", "sum", "n"), ("null_count", "sum", "null_count"),
    ("s", "sum", "sum"), ("ss", "sum", "sumsq"), ("min", "min", "min"), ("max", "max", "max"),
)


def _merge_aggs(pre: str = "", when: str = "true") -> list[Column]:
    """The additive merge over the state rows matching ``when``."""
    return [
        F.expr(f"{fn}(CASE WHEN {when} THEN `{c}` END) AS `{pre}{name}`")
        for name, fn, c in _MERGE_AGGS
    ]


def _merged_stats(pre: str = "") -> list[str]:
    """The profile derived from ``_merge_aggs(pre)``."""
    n, s, ss = f"`{pre}n`", f"`{pre}s`", f"`{pre}ss`"
    return [
        f"`{pre}n_rows`", n, f"`{pre}null_count`",
        f"`{pre}null_count` / `{pre}n_rows` AS `{pre}null_ratio`",
        f"`{pre}min`", f"`{pre}max`",
        f"CASE WHEN {n} > 0 THEN {s} / {n} END AS `{pre}mean`",
        f"CASE WHEN {n} > 1 THEN sqrt(greatest(0.0D, ({ss} - {s} * {s} / {n}) / ({n} - 1)))"
        f" END AS `{pre}stddev`",
    ]


def merge_profiles(
    parts: DataFrame, keys: tuple[str, ...] = ("column_name",)
) -> DataFrame:
    """Merge additive profile states into one profile per key.

    Input: any subset of ``partitioned_profile`` rows (e.g. filtered to a
    date window). The merge is a tiny aggregate over O(partitions ×
    columns) rows — no data re-scan. ``keys`` defaults to per-column;
    group-sliced state tables pass ``("group_value", "column_name")``.
    Output per key: ``n_rows, n, null_count, null_ratio, min, max, mean,
    stddev`` (sample stddev, guarded to NULL for n < 2 and clamped at 0
    against float cancellation).
    """
    merged = parts.groupBy(*keys).agg(*_merge_aggs())
    return merged.selectExpr(*[f"`{k}`" for k in keys], *_merged_stats())


def _window_pred(partitions: list[str]) -> str:
    """SQL predicate: ``partition_id`` is in the window (none for an empty
    one). qs() quotes each caller-supplied id — a quote/backslash in a
    partition id must not be able to misparse the plan."""
    ids = ", ".join(qs(str(p)) for p in partitions)
    return f"partition_id IN ({ids})" if ids else "false"


def windowed_profiles(
    parts: DataFrame,
    ref_partitions: list[str],
    curr_partitions: list[str],
    keys: tuple[str, ...] = ("column_name",),
    quantile_parts: DataFrame | None = None,
) -> DataFrame:
    """``ref_*``/``curr_*`` merged profiles of two windows — the input of
    ``numeric_drift_from_joined`` — from ONE ``groupBy(keys)`` over both
    windows' state rows, each side a conditional aggregate: no per-side
    sub-plan, no join. Each side equals ``merge_profiles`` over its window
    plus ``p25, p50, p75``; a side with no rows for a key is all NULL
    (full-outer-join semantics). ``quantile_parts``' KLL rows join the
    same aggregate; without them, or for a side with no sketch rows, the
    quartiles are NULL."""
    sides = {"ref_": _window_pred(ref_partitions), "curr_": _window_pred(curr_partitions)}
    rows = parts.select("partition_id", *keys, *[c for _, _, c in _MERGE_AGGS])
    quartiles = "CAST(NULL AS ARRAY<DOUBLE>)"
    if quantile_parts is not None:
        rows = rows.unionByName(
            quantile_parts.select("partition_id", *keys, "kll"), allowMissingColumns=True
        )
        # an empty KLL merge is not a readable sketch: guard it to NULL
        quartiles = (
            "CASE WHEN count(CASE WHEN {w} THEN kll END) > 0"
            " AND count(CASE WHEN {w} THEN n_rows END) > 0 THEN kll_sketch_get_quantile_double("
            "kll_merge_agg_double(CASE WHEN {w} THEN kll END), array(0.25D, 0.5D, 0.75D)) END"
        )
    aggs = [
        a
        for pre, w in sides.items()
        for a in (*_merge_aggs(pre, w), F.expr(quartiles.format(w=w)).alias(f"{pre}q"))
    ]
    merged = (
        rows.where(" OR ".join(sides.values()))
        .groupBy(*keys)
        .agg(*aggs)
        .where("ref_n_rows IS NOT NULL OR curr_n_rows IS NOT NULL")
    )
    return merged.selectExpr(
        *[f"`{k}`" for k in keys],
        *[
            e
            for pre in sides
            for e in _merged_stats(pre)
            + [f"`{pre}q`[{i}] AS `{pre}p{p}`" for i, p in enumerate((25, 50, 75))]
        ],
    )


def merged_drift(
    parts: DataFrame,
    ref_partitions: list[str],
    curr_partitions: list[str],
    thresholds: dict[str, float] | None = None,
    quantile_parts: DataFrame | None = None,
) -> DataFrame:
    """Numeric drift between two PARTITION WINDOWS of one summary table —
    no data re-scan at all: both sides' profiles come from ONE
    ``windowed_profiles`` aggregate over the persisted additive states
    (one hash exchange, no join), then the standard M16 expression
    scoring runs on its O(columns) rows.

    ``quantile_parts``: the matching ``partitioned_quantiles`` KLL state
    table, if the pipeline persists one. When given, each side's
    p25/p50/p75 come from a sketch merge over the same window in that
    aggregate, so the drift score carries the full M16 metric set
    (median/IQR) the scan-time path reports. KLL merges are randomized:
    the quantile metrics, and so ``drift_score``, are then not
    bit-reproducible across calls (they stay within the sketch's rank
    error). Without it the quantile metrics are NULL and the weighted
    score renormalizes over the metrics that ARE present (the same
    weight-mass rule the reference applies to missing metrics).
    """
    sides = windowed_profiles(parts, ref_partitions, curr_partitions, quantile_parts=quantile_parts)
    return numeric_drift_from_joined(sides, thresholds)


def incremental_profile(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
    partitions: list[str] | None = None,
) -> DataFrame:
    """Profile-by-partition then merge — optionally restricted to a window.

    ``partitions``: keep only these partition ids before merging (the
    "any date window without re-scanning" path when the summary table is
    persisted)."""
    parts = partitioned_profile(df, columns, partition_by)
    if partitions is not None:
        parts = parts.where(F.col("partition_id").isin(partitions))
    return merge_profiles(parts)


def partitioned_categories(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
) -> DataFrame:
    """Additive per-partition category-count state.

    The categorical twin of ``partitioned_profile``: one row per
    ``(partition_id, column_name, value)`` with ``cnt`` — the long-format
    equivalent of a map-typed count-by-value state, chosen because it
    merges with a plain ``groupBy().sum()`` (map merges need a UDF) and
    the shuffle key includes the category value, so a hot category never
    concentrates in one task. NULL category values are kept as rows (the
    null-count state rides in the same table). State size is
    O(partitions × columns × distinct) — for high-cardinality columns cap
    the domain upstream or profile them as numeric/text instead.

    ONE melt+groupBy pass over the partition's data; the summary table is
    meant to be persisted and appended to per ingest batch.
    """
    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    part = F.expr(partition_by) if isinstance(partition_by, str) else partition_by
    tagged = df.withColumn("__pid", part.cast("string"))
    # SQL-string melt with the pid riding along — one bridge call
    melted = tagged.selectExpr(
        "__pid",
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS STRING))"
            for c in columns
        )
        + "))",
    )
    return (
        melted.groupBy("__pid", "column_name", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumnRenamed("__pid", "partition_id")
    )


def merge_categories(parts: DataFrame) -> DataFrame:
    """Merge category-count states into one frequency table per column.

    Input: any subset of ``partitioned_categories`` rows. Output matches
    ``frequency.frequency_table``: ``column_name, value, cnt, n_nonnull,
    freq`` (null-value rows carry freq NULL). A tiny aggregate over the
    summary table — no data re-scan.
    """
    merged = parts.groupBy("column_name", "value").agg(F.sum("cnt").alias("cnt"))
    merged = with_key_totals(
        merged,
        {
            "n_nonnull": F.sum(
                F.when(F.col("value").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
            )
        },
    )
    return merged.selectExpr(
        "column_name",
        "value",
        "cnt",
        "n_nonnull",
        "CASE WHEN value IS NOT NULL AND n_nonnull > 0"
        " THEN cnt / n_nonnull END AS freq",
    )


def merged_category_cells(
    parts: DataFrame,
    ref_partitions: list[str],
    curr_partitions: list[str],
) -> DataFrame:
    """Aligned ref/curr cells from two windows of ONE category-state table.

    Output matches ``frequency.pair_frequency_cells`` — ``column_name,
    value, ref_cnt, curr_cnt`` — via a single conditional aggregate over
    the state rows of both windows (the groupBy aligns the sides for
    free, exactly like the scan-time path).
    """
    ref, curr = _window_pred(ref_partitions), _window_pred(curr_partitions)
    return (
        parts.where(f"{ref} OR {curr}")
        .groupBy("column_name", "value")
        .agg(
            F.expr(f"sum(CASE WHEN {ref} THEN cnt ELSE 0 END)").alias("ref_cnt"),
            F.expr(f"sum(CASE WHEN {curr} THEN cnt ELSE 0 END)").alias("curr_cnt"),
        )
    )


def merged_categorical_drift(
    parts: DataFrame,
    ref_partitions: list[str],
    curr_partitions: list[str],
    thresholds: dict[str, float] | None = None,
    top_k: int | None = 20,
) -> DataFrame:
    """M18/M20 categorical drift between two PARTITION WINDOWS of one
    category-state table — the categorical twin of ``merged_drift``: both
    sides' aligned cells come from ``merged_category_cells`` (a tiny
    aggregate over the persisted additive state, no data re-scan), then
    the standard scoring (``categorical_drift_from_cells``) runs on the
    O(categories) table. Below the size gate (``frequency.with_top_k``)
    that is one lazy plan — the cells exchange plus one window exchange for
    totals and top-k ranks — whose single read of the cells needs no cache.
    Above it the scoring keeps the cells for its own run and returns the
    O(columns) result as a local relation.
    """
    return categorical_drift_from_cells(
        merged_category_cells(parts, ref_partitions, curr_partitions), thresholds, top_k
    )


def partitioned_distinct(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
    lg_k: int = 12,
) -> DataFrame:
    """Additive distinct-count state: one Datasketches HLL sketch per
    ``(partition_id, column_name)``.

    The missing piece between the numeric state (sums — exactly additive)
    and the category state (counts — additive but O(distinct) rows): a
    distinct COUNT is not additive, but the HLL sketch is a fixed-size
    (≈``2^lg_k`` bytes) mergeable summary with ~1.04/√(2^lg_k) relative
    standard error (~1.6% at the default lg_k=12). Spark's built-in
    ``hll_sketch_agg``/``hll_union_agg`` (Apache Datasketches, JVM-side,
    codegen-friendly) do the heavy lifting; NULLs are excluded (they are
    counted by the numeric/category state already).

    Output: ``partition_id, column_name, hll (binary)`` — persist next to
    the other state tables and union per ingest batch.
    """
    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    part = F.expr(partition_by) if isinstance(partition_by, str) else partition_by
    melted = df.withColumn("__pid", part.cast("string")).selectExpr(
        "__pid",
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS STRING))"
            for c in columns
        )
        + "))",
    )
    return (
        melted.where(F.col("value").isNotNull())
        .groupBy("__pid", "column_name")
        .agg(F.expr(f"hll_sketch_agg(value, {int(lg_k)})").alias("hll"))
        .withColumnRenamed("__pid", "partition_id")
    )


def merged_distinct(parts: DataFrame) -> DataFrame:
    """Merge HLL distinct states into one estimate per column.

    Input: any subset of ``partitioned_distinct`` rows (e.g. a date
    window). A tiny ``hll_union_agg`` over O(partitions × columns) fixed
    -size sketches — no data re-scan. Output: ``column_name,
    distinct_estimate (long)``.
    """
    return parts.groupBy("column_name").agg(
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(hll, true)) AS BIGINT)").alias(
            "distinct_estimate"
        )
    )


def partitioned_quantiles(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
    k: int = 800,
) -> DataFrame:
    """Mergeable quantile state: one Datasketches KLL doubles sketch per
    ``(partition_id, column_name)`` (Spark's built-in
    ``kll_sketch_agg_double``; ``k=800`` ≈ 0.4% rank error at 99%
    confidence, O(k log n) bytes per sketch).

    The final piece of the mergeable family: exact quantiles are not
    finitely mergeable (``merged_drift`` carries NULL quantile metrics),
    but KLL sketches merge associatively with a provable rank-error
    bound — so windowed merges can report medians/IQRs too.
    """
    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    part = F.expr(partition_by) if isinstance(partition_by, str) else partition_by
    melted = df.withColumn("__pid", part.cast("string")).selectExpr(
        "__pid",
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS DOUBLE))"
            for c in columns
        )
        + "))",
    )
    return (
        melted.where(F.col("value").isNotNull())
        .groupBy("__pid", "column_name")
        .agg(F.expr(f"kll_sketch_agg_double(value, {int(k)})").alias("kll"))
        .withColumnRenamed("__pid", "partition_id")
    )


def merged_quantiles(
    parts: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Quantile estimates from any window of KLL states — a tiny
    ``kll_merge_agg_double`` over O(partitions × columns) sketches, no
    data re-scan. Output: one row per ``(column_name, p)`` with the
    estimate (a stream value — no interpolation; approximate by design,
    rank error bounded by the sketch's k)."""
    plist = ", ".join(f"{float(p)!r}D" for p in probs)
    merged = parts.groupBy("column_name").agg(
        F.expr("kll_merge_agg_double(kll)").alias("__m")
    )
    return merged.selectExpr(
        "column_name",
        f"explode(arrays_zip(array({plist}), "
        f"kll_sketch_get_quantile_double(__m, array({plist})))) AS z",
    ).selectExpr("column_name", "z.`0` AS p", "z.`1` AS value")


def partitioned_heavy_hitters(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
    max_items_tracked: int = 10000,
) -> DataFrame:
    """Additive heavy-hitters state: one Datasketches frequent-items
    sketch per ``(partition_id, column_name)`` (Spark's built-in
    ``approx_top_k_accumulate``).

    The approximate sibling of ``partitioned_categories``: the exact
    count state is O(distinct) rows per partition — fine for enum-like
    columns, unbounded for ids/tokens. The sketch is a FIXED-SIZE
    summary tracking ``max_items_tracked`` candidates; any item with
    frequency above ~N/max_items_tracked is guaranteed present
    (no false negatives among true heavy hitters), and when a column's
    distinct count stays under the budget the counts are exact.
    NULLs are excluded (the numeric/category state counts them).

    Output: ``partition_id, column_name, state`` — persist and append
    per ingest batch like the other state tables.
    """
    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    part = F.expr(partition_by) if isinstance(partition_by, str) else partition_by
    melted = df.withColumn("__pid", part.cast("string")).selectExpr(
        "__pid",
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS STRING))"
            for c in columns
        )
        + "))",
    )
    return (
        melted.where(F.col("value").isNotNull())
        .groupBy("__pid", "column_name")
        .agg(
            F.expr(
                f"approx_top_k_accumulate(value, {int(max_items_tracked)})"
            ).alias("state")
        )
        .withColumnRenamed("__pid", "partition_id")
    )


def merged_heavy_hitters(
    parts: DataFrame,
    k: int = 10,
    max_items_tracked: int = 10000,
) -> DataFrame:
    """Top-k items from any window of heavy-hitters states — a tiny
    ``approx_top_k_combine`` over O(partitions × columns) fixed-size
    sketches, no data re-scan (``merged_distinct``'s pattern for
    frequencies). Output: one row per ``(column_name, item)`` with the
    estimated count, up to ``k`` rows per column, count-descending."""
    merged = parts.groupBy("column_name").agg(
        F.expr(f"approx_top_k_combine(state, {int(max_items_tracked)})").alias("__m")
    )
    return merged.selectExpr(
        "column_name",
        f"explode(approx_top_k_estimate(__m, {int(k)})) AS z",
    ).selectExpr(
        "column_name",
        "z.item AS item",
        "CAST(z.count AS BIGINT) AS count_estimate",
    )


def partitioned_group_profile(
    df: DataFrame,
    columns: list[str],
    partition_by: Column | str,
    group_col: str,
) -> DataFrame:
    """Group-sliced additive profile state: one state row per
    ``(partition_id, group_value, column_name)`` — the dimension-aware
    variant of ``partitioned_profile``, so windowed drift can be sliced
    by a business dimension (region, language, source) without
    re-scanning data. State size is O(partitions × groups × columns);
    keep ``group_col`` enum-like (the scan-time groups family covers
    exploratory high-cardinality slicing).

    One melt + ``groupBy(partition, group, column)`` pass; the shuffle
    key includes the group so hot dimensions spread across tasks.
    """
    if not columns:
        raise ValueError("no columns to profile")
    ensure_safe_columns([*columns, group_col])
    part = F.expr(partition_by) if isinstance(partition_by, str) else partition_by
    melted = df.withColumn("__pid", part.cast("string")).selectExpr(
        "__pid",
        f"CAST(`{group_col}` AS STRING) AS group_value",
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS DOUBLE))"
            for c in columns
        )
        + "))",
    )
    return (
        melted.groupBy("__pid", "group_value", "column_name")
        .agg(
            F.expr("count(1) AS n_rows"),
            F.expr("count(value) AS n"),
            F.expr("sum(CAST(value IS NULL AS BIGINT)) AS null_count"),
            F.expr("sum(value) AS sum"),
            F.expr("sum(value * value) AS sumsq"),
            F.expr("min(value) AS min"),
            F.expr("max(value) AS max"),
        )
        .withColumnRenamed("__pid", "partition_id")
    )


def merged_group_drift(
    parts: DataFrame,
    ref_partitions: list[str],
    curr_partitions: list[str],
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Per-dimension windowed drift from the group-sliced state table —
    ``merged_drift`` with a ``group_value`` key: each (group, column)
    cell gets the full M16 weighted score between the two partition
    windows, still with zero data re-scan. A daily pipeline reads "which
    REGION drifted yesterday" for the cost of a metadata aggregate.

    Quantile metrics are NULL (additive state) and the score
    renormalizes, exactly like ``merged_drift`` without KLL state.
    """
    keys = ("group_value", "column_name")
    sides = windowed_profiles(parts, ref_partitions, curr_partitions, keys=keys)
    return numeric_drift_from_joined(sides, thresholds)
