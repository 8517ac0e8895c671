"""Frequency tables, top-k truncation, entropy — all columns in one pass.

The reference runs a ``groupBy(col).count()`` + ``orderBy().limit(20)`` +
``collect()`` *per column per side* (``categorical_analyzer.py:145-151``)
and normalizes frequencies driver-side. Here all categorical columns are
unpivoted into ``(column_name, value)`` pairs first, so ONE shuffle builds
every column's frequency table, and normalization / top-k / entropy are
window + aggregate expressions that never leave the cluster.

Scale notes:
- The unpivot is a narrow map (explode) — no extra shuffle; the single
  ``groupBy(column_name, value)`` benefits from map-side partial
  aggregation, so shuffle volume is O(total distinct categories), not rows.
- Top-k uses ``row_number`` over ``(column_name)`` partitions — the per-key
  state is bounded, never a driver collect (SURVEY §7.4 risk 5).

Covers SURVEY.md §2.4 A6-A8, §2.5 W1, §2.6 T1-T3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.functions.lifetime import keep


def unpivot_values(df: DataFrame, columns: list[str], keep_nulls: bool = False) -> DataFrame:
    """Melt selected columns to ``(column_name, value:string)`` rows."""
    if not columns:
        raise ValueError("no columns to unpivot")
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns(columns)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("value"),
            )
            for c in columns
        ]
    )
    out = df.select(F.explode(pairs).alias("kv")).select("kv.*")
    if not keep_nulls:
        out = out.filter(F.col("value").isNotNull())
    return out


def with_key_totals(
    cells: DataFrame,
    sums: dict[str, "F.Column"],
    keys: tuple[str, ...] = ("column_name",),
) -> DataFrame:
    """Attach per-key totals via ``groupBy`` + broadcast join.

    NOT an unpartitioned window: ``Window.partitionBy(key)`` buffers every
    cell of a key in ONE task, which for a high-cardinality categorical
    column at 100 TB is the same single-task cliff as the cumulative-sum
    windows (``operators.cumulative``). The totals table is O(keys) rows —
    always broadcastable — and the groupBy's partial aggregation is
    map-side, so the fix costs one tiny extra shuffle and removes the
    per-key buffering entirely. Results are bit-identical (integer sums).

    Small frames (per the ``top_k_cutoffs`` size gate) take the per-key
    window directly: identical sums, and the plan drops the totals
    aggregate + broadcast-build job — downstream windows on the same keys
    then share one exchange.
    """
    key_list = list(keys)
    if not _should_salt(cells):
        w = Window.partitionBy(*key_list)
        return cells.select("*", *[expr.over(w).alias(name) for name, expr in sums.items()])
    totals = cells.groupBy(*key_list).agg(
        *[expr.alias(name) for name, expr in sums.items()]
    )
    return cells.join(F.broadcast(totals), key_list)


def frequency_table(
    df: DataFrame,
    columns: list[str],
    top_k: int | None = None,
    keep_nulls: bool = False,
) -> DataFrame:
    """Per-column category counts and frequencies.

    Output: ``column_name, value, cnt, n_nonnull, freq`` where ``freq`` is
    ``cnt / n_nonnull`` — the reference's denominator is non-null rows of
    that column (``categorical_analyzer.py:161``).

    ``top_k`` keeps the k most frequent categories per column (deterministic
    tie-break on value) — the reference's top-20 truncation semantics
    (``categorical_analyzer.py:151``, SURVEY §2.6 T1). Note the truncation
    happens AFTER normalization, so frequencies stay relative to the full
    column as in the reference.
    """
    counts = (
        unpivot_values(df, columns, keep_nulls=keep_nulls)
        .groupBy("column_name", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = with_key_totals(counts, {"n_nonnull": F.sum("cnt")}).withColumn(
        "freq", F.col("cnt") / F.col("n_nonnull")
    )
    if top_k is not None:
        counts = top_k_filter(counts, top_k)
    return counts


#: Above this plan-time size estimate for the cells frame, the top-k
#: builders run their salted two-phase shape (bounded per-task state); at
#: or below it, a single per-key window is safe — the whole frame fits in
#: one task with room to spare — and skips one exchange + one sort. The
#: estimate comes from Catalyst statistics (file sizes), costs no job, and
#: fails toward the salted path.
SALT_SIZE_THRESHOLD_BYTES = 1 << 30


def _should_salt(cells: DataFrame) -> bool:
    from pyspark_data_drift_detector_spark.plans.inspect import estimated_size_bytes

    return estimated_size_bytes(cells) > SALT_SIZE_THRESHOLD_BYTES


def top_k_cutoffs(
    cells: DataFrame,
    k: int,
    keys: tuple[str, ...] = ("column_name",),
    count_col: str = "cnt",
    value_col: str = "value",
    salt_partitions: int | None = None,
) -> DataFrame:
    """Per-key k-th cutoff in ``(count DESC, value ASC)`` order, with
    BOUNDED per-task state.

    A plain ``row_number`` over ``Window.partitionBy(key)`` sorts every
    cell of a key in one task — the same 100 TB cliff as the cumulative
    windows. Here each task handles one ``(key, salt)`` slice (≈1/S of a
    key's cells): any global top-k row is necessarily in its slice's local
    top-k, so the exact ranking runs on the ≤ k·S survivors per key — a
    tiny table. Returns one row per key: ``keys..., cut_cnt, cut_value``
    where the cutoff is the k-th row (or the last row when the key has
    fewer than k cells). Membership test replaying ``row_number() <= k``
    exactly (cell values are unique per key, so the order is total)::

        cnt > cut_cnt OR (cnt = cut_cnt AND value <= cut_value)

    ``salt_partitions=None`` (default) gates the local phase on Catalyst's
    plan-time size estimate: small frames (≤ ``SALT_SIZE_THRESHOLD_BYTES``)
    skip straight to the per-key window — results are identical, the plan
    loses one exchange and one sort. Pass an int to force either shape.
    """
    if salt_partitions is None:
        salt_partitions = 32 if _should_salt(cells) else 1
    order = [F.desc(count_col), F.asc(value_col)]
    local = cells.select(*keys, count_col, value_col)
    if salt_partitions > 1:
        salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(salt_partitions))
        wlocal = Window.partitionBy(*keys, salt).orderBy(*order)
        local = local.withColumn("__lrn", F.row_number().over(wlocal)).filter(
            F.col("__lrn") <= k
        )
    wglobal = Window.partitionBy(*keys).orderBy(*order)
    ranked = local.withColumn("__rn", F.row_number().over(wglobal)).filter(
        F.col("__rn") <= k
    )
    return ranked.groupBy(*keys).agg(
        F.max_by(F.col(count_col), F.col("__rn")).alias("cut_cnt"),
        F.max_by(F.col(value_col), F.col("__rn")).alias("cut_value"),
    )


def pair_top_k_cutoffs(
    cells: DataFrame,
    k: int,
    keys: tuple[str, ...] = ("column_name",),
    count_cols: tuple[str, str] = ("ref_cnt", "curr_cnt"),
    value_col: str = "value",
    salt_partitions: int | None = None,
) -> DataFrame:
    """Both sides' top-k cutoffs in ONE pass.

    The ref- and curr-ordered windows share the same ``(keys, salt)`` and
    ``(keys)`` partitionings, so Spark plans consecutive Window operators
    over a single exchange each (two sorts, one shuffle) instead of two
    full pipelines. Output: ``keys..., <c>_cut_cnt, <c>_cut_value`` per
    count column. See ``top_k_cutoffs`` for the bounded-state rationale
    and the ``salt_partitions=None`` size-estimate gate.
    """
    if salt_partitions is None:
        salt_partitions = 32 if _should_salt(cells) else 1
    # SQL-string assembly — see profile._quantile_agg_sql for why
    keylist = ", ".join(f"`{x}`" for x in keys)
    local = cells.select(*keys, *count_cols, value_col)
    if salt_partitions > 1:
        slim = local.selectExpr(
            "*",
            f"pmod(xxhash64(`{value_col}`), {int(salt_partitions)}) AS __salt",
            *[
                f"row_number() OVER (PARTITION BY {keylist}, "
                f"pmod(xxhash64(`{value_col}`), {int(salt_partitions)})"
                f" ORDER BY `{c}` DESC, `{value_col}` ASC) AS `__lrn_{c}`"
                for c in count_cols
            ],
        )
        local = slim.filter(" OR ".join(f"__lrn_{c} <= {k}" for c in count_cols))
    # the survivor set contains every side's TRUE top-k (each such row is
    # in its salt slice's local top-k), and any non-top-k survivor ranks
    # after all k of them, so rank-k within the survivors IS the true
    # cutoff for each side
    local = local.selectExpr(
        "*",
        *[
            f"row_number() OVER (PARTITION BY {keylist}"
            f" ORDER BY `{c}` DESC, `{value_col}` ASC) AS `__rn_{c}`"
            for c in count_cols
        ],
    )
    aggs = [
        F.expr(
            f"max(CASE WHEN `__rn_{c}` <= {k} THEN named_struct("
            f"'rn', `__rn_{c}`, 'cnt', `{c}`, 'val', `{value_col}`) END)"
            f" AS `__cut_{c}`"
        )
        for c in count_cols
    ]
    cuts = local.groupBy(*keys).agg(*aggs)
    return cuts.selectExpr(
        *[f"`{x}`" for x in keys],
        *[
            e
            for c in count_cols
            for e in (
                f"`__cut_{c}`.cnt AS `{c}_cut_cnt`",
                f"`__cut_{c}`.val AS `{c}_cut_value`",
            )
        ],
    )


def cutoff_member_expr(count_col: "F.Column", value_col: "F.Column") -> "F.Column":
    """The membership predicate matching ``top_k_cutoffs``'s contract.

    Null-aware to replay Spark's ``asc`` null placement exactly: in the
    ``(cnt DESC, value ASC)`` window order a NULL value sorts FIRST within
    its count level, so a null row is a member whenever the cutoff sits at
    its count level, and a non-null row never beats a null cutoff at the
    same level (``value <= NULL`` → NULL → false via the coalesce)."""
    return (count_col > F.col("cut_cnt")) | (
        (count_col == F.col("cut_cnt"))
        & (
            value_col.isNull()
            | F.coalesce(value_col <= F.col("cut_value"), F.lit(False))
        )
    )


def join_top_k_membership(
    enr: DataFrame,
    cells: DataFrame,
    k: int,
    keys: tuple[str, ...],
    count_col: str,
    member_name: str,
    value_col: str = "value",
) -> DataFrame:
    """Attach a boolean ``member_name`` = "this row is in its key's top-k
    by ``(count DESC, value ASC)`` and has a positive count" — via a
    broadcast cutoff join instead of a per-key ``row_number`` window.
    ``cells`` is the frame the ranks are computed over (usually ``enr``
    itself, or a filtered view when some rows are excluded from ranking).
    """
    cuts = top_k_cutoffs(cells, k, keys=keys, count_col=count_col, value_col=value_col)
    joined = enr.join(F.broadcast(cuts), list(keys), "left")
    member = (F.col(count_col) > 0) & F.coalesce(
        cutoff_member_expr(F.col(count_col), F.col(value_col)), F.lit(False)
    )
    return joined.withColumn(member_name, member).drop("cut_cnt", "cut_value")


def top_k_filter(
    freq: DataFrame,
    top_k: int,
    extra_keys: list[str] | None = None,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Keep the k most frequent categories per column (tie-break on value).

    Separate from ``frequency_table`` so a full table can be computed once
    and truncated as a second consumer. Implemented as a broadcast join
    against ``top_k_cutoffs`` — no task ever sorts a whole column's
    category set (see that docstring). Small frames (per the same size
    gate) take one direct ``row_number`` window instead: identical rows,
    and the plan drops the persist + cutoff join + probe pass.
    """
    keys = ["column_name", *(extra_keys or [])]
    if salt_partitions is None and not _should_salt(freq):
        w = Window.partitionBy(*keys).orderBy(F.desc("cnt"), F.asc("value"))
        return (
            freq.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_k)
            .drop("__rn")
        )
    # both the cutoff pass and the probe read freq — keep it so the
    # upstream melt+groupBy runs once
    freq = keep(freq)
    cuts = top_k_cutoffs(
        freq, top_k, keys=tuple(keys), salt_partitions=salt_partitions
    )
    return (
        freq.join(F.broadcast(cuts), keys)
        .filter(cutoff_member_expr(F.col("cnt"), F.col("value")))
        .drop("cut_cnt", "cut_value")
    )


def pair_frequency_cells(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Aligned ref/curr category counts for all columns in ONE scan+shuffle.

    Side-tagged union → unpivot → ``groupBy(column_name, value)`` with
    conditional sums. This replaces the reference's per-side frequency
    collection + driver-side dict merge (``categorical_analyzer.py:334-347``)
    AND the full-outer alignment join — the groupBy aligns both sides for
    free. NULL category values are kept as rows so null counts derive from
    the same pass.

    Output: ``column_name, value (nullable), ref_cnt, curr_cnt`` — one row
    per distinct category, O(total distinct categories) after the shuffle's
    map-side partial aggregation.
    """
    if not columns:
        raise ValueError("no columns")
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns(columns)
    tagged = df_ref.select(F.lit("r").alias("__side"), *columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *columns)
    )
    # SQL-string melt — one bridge call (see profile._quantile_agg_sql)
    structs = ", ".join(
        f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS STRING))"
        for c in columns
    )
    melted = tagged.selectExpr("__side", f"inline(array({structs}))")
    return melted.groupBy("column_name", "value").agg(
        F.expr("sum(CAST(__side = 'r' AS BIGINT)) AS ref_cnt"),
        F.expr("sum(CAST(__side = 'c' AS BIGINT)) AS curr_cnt"),
    )


def entropy(freq: DataFrame, base2: bool = True) -> DataFrame:
    """Shannon entropy per column from a frequency table.

    ``-Σ p·log(p)``; the reference's categorical path uses log2
    (``categorical_analyzer.py:163-167``) while the adaptive-threshold path
    uses ln (``adaptive_threshold.py:441-455``) — base is a knob.
    """
    log = F.log2 if base2 else F.log
    return freq.groupBy("column_name").agg(
        (-F.sum(F.col("freq") * log(F.col("freq")))).alias("entropy")
    )


def population_stability_index(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    epsilon: float = 1e-4,
) -> DataFrame:
    """PSI per column: ``Σ (q−p)·ln(q/p)`` over the aligned category support.

    The industry-standard drift metric (banking/model-monitoring
    convention: <0.1 stable, 0.1–0.25 moderate, >0.25 significant) —
    beyond the reference's surface (it has JS/chi² only), added because a
    drift engine without PSI is incomplete for most monitoring users.
    Zero-frequency categories clamp to ``epsilon`` (the standard zero-bin
    treatment, keeping the sum finite). One ``pair_frequency_cells`` pass;
    frequencies are over each side's non-null total.
    """
    cells = pair_frequency_cells(df_ref, df_curr, columns)
    nn = ~F.col("value").isNull()
    enr = (
        with_key_totals(
            cells,
            {
                "ref_total": F.sum(F.when(nn, F.col("ref_cnt")).otherwise(F.lit(0))),
                "curr_total": F.sum(F.when(nn, F.col("curr_cnt")).otherwise(F.lit(0))),
            },
        )
        .filter(nn)
        .withColumn(
            "p",
            F.greatest(F.col("ref_cnt") / F.greatest(F.col("ref_total"), F.lit(1)), F.lit(epsilon)),
        )
        .withColumn(
            "q",
            F.greatest(F.col("curr_cnt") / F.greatest(F.col("curr_total"), F.lit(1)), F.lit(epsilon)),
        )
    )
    psi = F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")))
    return enr.groupBy("column_name").agg(psi.alias("psi")).select(
        "column_name",
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate_shift")
        .otherwise("significant_shift")
        .alias("stability"),
    )


def categorical_distances(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    epsilon: float = 1e-4,
) -> DataFrame:
    """JS, PSI, total-variation and Hellinger distances per column — one pass.

    All four are sums over the aligned category frequencies, so they share
    ONE ``pair_frequency_cells`` aggregation (the reference computes its one
    metric per analyzer with separate collections; a monitoring user wants
    the full panel at the cost of one):

    - ``js``: sqrt of midpoint-KL divergence, log2 (same math as
      ``categorical_drift``'s full-support variant);
    - ``psi``: ε-clamped ``Σ (q−p)·ln(q/p)``;
    - ``tvd``: ``½·Σ|p−q|`` ∈ [0,1];
    - ``hellinger``: ``√(½·Σ(√p−√q)²)`` ∈ [0,1].
    """
    cells = pair_frequency_cells(df_ref, df_curr, columns)
    nn = ~F.col("value").isNull()
    enr = (
        with_key_totals(
            cells,
            {
                "ref_total": F.sum(F.when(nn, F.col("ref_cnt")).otherwise(F.lit(0))),
                "curr_total": F.sum(F.when(nn, F.col("curr_cnt")).otherwise(F.lit(0))),
            },
        )
        .filter(nn)
        .withColumn("p", F.col("ref_cnt") / F.greatest(F.col("ref_total"), F.lit(1)))
        .withColumn("q", F.col("curr_cnt") / F.greatest(F.col("curr_total"), F.lit(1)))
    )
    p, q = F.col("p"), F.col("q")
    m = (p + q) / 2
    kl_p = F.when((p > 0) & (m > 0), p * F.log2(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when((q > 0) & (m > 0), q * F.log2(q / m)).otherwise(F.lit(0.0))
    pc = F.greatest(p, F.lit(epsilon))
    qc = F.greatest(q, F.lit(epsilon))
    return enr.groupBy("column_name").agg(
        F.sqrt(F.greatest(F.lit(0.0), (F.sum(kl_p) + F.sum(kl_q)) / 2)).alias("js"),
        F.sum((qc - pc) * F.log(qc / pc)).alias("psi"),
        (F.sum(F.abs(p - q)) / 2).alias("tvd"),
        F.sqrt(
            F.greatest(F.lit(0.0), F.sum(F.pow(F.sqrt(p) - F.sqrt(q), 2)) / 2)
        ).alias("hellinger"),
    )


def grouped_frequency_table(
    df: DataFrame,
    dimension: str,
    columns: list[str],
    top_k: int | None = None,
) -> DataFrame:
    """Frequency tables sliced by a dimension column, single pass.

    Replaces the reference's per-category ``filter()`` loop
    (``group_analyzer.py:66-102``) with one ``groupBy(dimension,
    column_name, value)`` aggregate. Output adds ``dimension_value``;
    ``top_k`` is per ``(dimension_value, column_name)``.
    """
    melted = df.select(
        F.col(dimension).cast("string").alias("dimension_value"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("kv"),
    ).select("dimension_value", "kv.*")
    counts = (
        melted.filter(F.col("value").isNotNull())
        .groupBy("dimension_value", "column_name", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = with_key_totals(
        counts, {"n_nonnull": F.sum("cnt")}, keys=("dimension_value", "column_name")
    ).withColumn("freq", F.col("cnt") / F.col("n_nonnull"))
    if top_k is not None:
        counts = top_k_filter(counts, top_k, extra_keys=["dimension_value"])
    return counts
