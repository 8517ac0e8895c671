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

from pyspark_data_drift_detector_spark.functions.lifetime import keep, owned_result


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
    """Attach per-key totals: a per-key window below the size gate
    (``_should_salt``), a ``groupBy`` + broadcast join above it.

    Above the gate an unpartitioned ``Window.partitionBy(key)`` would
    buffer every cell of a key in ONE task, which for a high-cardinality
    categorical column at 100 TB is the same single-task cliff as the
    cumulative-sum windows (``operators.cumulative``). The totals table is
    O(keys) rows — always broadcastable — and the groupBy's partial
    aggregation is map-side. Below it the window drops the totals
    aggregate + broadcast-build job, and downstream windows on the same
    keys share its exchange. Both shapes give the same rows.
    """
    if not _should_salt(cells):
        w = Window.partitionBy(*keys)
        return cells.select("*", *[expr.over(w).alias(name) for name, expr in sums.items()])
    totals = cells.groupBy(*keys).agg(*[expr.alias(name) for name, expr in sums.items()])
    return _join_per_key(cells, totals, keys)


def _join_per_key(cells: DataFrame, per_key: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Broadcast-join an O(keys) table onto ``cells``, matching NULL keys as
    the per-key window's partitioning does."""
    renamed = per_key.select(
        *[F.col(k).alias(f"__key{i}") for i, k in enumerate(keys)],
        *[c for c in per_key.columns if c not in keys],
    )
    on = [F.col(k).eqNullSafe(F.col(f"__key{i}")) for i, k in enumerate(keys)]
    return cells.join(F.broadcast(renamed), on).drop(*[f"__key{i}" for i in range(len(keys))])


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


#: Above this plan-time size estimate for a cells frame, per-key totals
#: and top-k ranks run their salted shapes (bounded per-task state); at or
#: below it, one per-key window is safe — the whole frame fits in one task
#: with room to spare — and skips exchanges, sorts and broadcast joins. The
#: estimate comes from Catalyst statistics (file sizes), costs no job, and
#: fails toward the salted shapes.
SALT_SIZE_THRESHOLD_BYTES = 1 << 30


def _should_salt(cells: DataFrame) -> bool:
    from pyspark_data_drift_detector_spark.plans.inspect import estimated_size_bytes

    return estimated_size_bytes(cells) > SALT_SIZE_THRESHOLD_BYTES


def with_top_k(
    cells: DataFrame,
    k: int | None,
    keys: tuple[str, ...] = ("column_name",),
    count_cols: tuple[str, ...] = ("cnt",),
    value_col: str = "value",
    sums: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Rank each key's cells and attach per-key totals — the one builder.

    Adds the ``sums`` totals (see ``with_key_totals``) and, per count
    column ``c``, a boolean ``member_<c>``: ``c > 0`` and the cell ranks
    ≤ ``k`` within its key by ``(c DESC, value ASC)``. Cell values are
    unique per key, so the order is total; a NULL value ranks first at
    its count level (Spark's ascending order). ``k=None`` keeps every
    positive cell. A caller that must never rank a cell passes its count
    as 0.

    Below the size gate (``_should_salt``) totals and ranks come from one
    ``Window.partitionBy(keys)``: one exchange, and the cells are read
    once. Above it a plain per-key ``row_number`` would sort every cell of
    a key in one task — the 100 TB cliff. There each task ranks one
    ``(key, salt)`` slice instead: every global top-k cell is in its
    slice's local top-k, so the exact rank-k cutoff comes from the ≤ k·32
    survivors per key, and membership is a comparison against the
    broadcast cutoff. That shape reads the cells three times (totals,
    cutoffs, probe), so it keeps them for the caller's ``owned_run``.
    """
    salted = k is not None and _should_salt(cells)
    if salted:
        cells = keep(cells)
    out = with_key_totals(cells, sums, keys) if sums else cells
    v = f"`{value_col}`"
    if k is None:
        ranked = {c: "true" for c in count_cols}
    elif not salted:
        keylist = ", ".join(f"`{x}`" for x in keys)
        ranked = {
            c: f"row_number() OVER (PARTITION BY {keylist} ORDER BY `{c}` DESC, {v} ASC)"
            f" <= {int(k)}"
            for c in count_cols
        }
    else:
        out = _join_per_key(out, _salted_cutoffs(cells, k, keys, count_cols, value_col), keys)
        # replays the rank order: a NULL value sorts before every non-NULL
        # value at its count level, and never after a NULL cutoff value
        ranked = {
            c: f"`{c}` > `__cut_{c}`.cnt OR (`{c}` = `__cut_{c}`.cnt"
            f" AND ({v} IS NULL OR coalesce({v} <= `__cut_{c}`.val, false)))"
            for c in count_cols
        }
    out = out.selectExpr("*", *[f"`{c}` > 0 AND ({r}) AS `member_{c}`" for c, r in ranked.items()])
    return out.drop(*[f"__cut_{c}" for c in count_cols]) if salted else out


def _salted_cutoffs(
    cells: DataFrame,
    k: int,
    keys: tuple[str, ...],
    count_cols: tuple[str, ...],
    value_col: str,
) -> DataFrame:
    """Per key and count column ``c``, the rank-k cell as ``__cut_<c>``
    (a ``cnt, val`` struct; the last cell when the key has fewer than k),
    ranked with bounded per-task state. All count columns share the salted
    and the per-key exchange (two sorts each, one shuffle each)."""
    # SQL-string assembly — see profile._quantile_agg_sql for why
    keylist = ", ".join(f"`{x}`" for x in keys)
    v = f"`{value_col}`"
    salt = f"pmod(xxhash64({v}), 32)"
    local = cells.select(*keys, *count_cols, value_col).selectExpr(
        "*",
        *[
            f"row_number() OVER (PARTITION BY {keylist}, {salt}"
            f" ORDER BY `{c}` DESC, {v} ASC) AS `__lrn_{c}`"
            for c in count_cols
        ],
    )
    # the survivors hold every count column's TRUE top-k (each such cell is
    # in its slice's local top-k), and any other survivor ranks after all k
    # of them, so rank k among the survivors IS the true cutoff
    survivors = local.filter(" OR ".join(f"`__lrn_{c}` <= {int(k)}" for c in count_cols))
    ranked = survivors.selectExpr(
        *[f"`{x}`" for x in keys],
        *[f"`{c}`" for c in count_cols],
        v,
        *[
            f"row_number() OVER (PARTITION BY {keylist}"
            f" ORDER BY `{c}` DESC, {v} ASC) AS `__rn_{c}`"
            for c in count_cols
        ],
    )
    return ranked.groupBy(*keys).agg(
        *[
            F.expr(
                f"max(CASE WHEN `__rn_{c}` <= {int(k)} THEN named_struct("
                f"'rn', `__rn_{c}`, 'cnt', `{c}`, 'val', {v}) END) AS `__cut_{c}`"
            )
            for c in count_cols
        ]
    )


@owned_result
def top_k_filter(
    freq: DataFrame,
    top_k: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Keep the k most frequent categories per column (tie-break on value).

    Separate from ``frequency_table`` so a full table can be computed once
    and truncated as a second consumer; ranks come from ``with_top_k``.
    """
    keys = ("column_name", *(extra_keys or []))
    return with_top_k(freq, top_k, keys).filter("member_cnt").drop("member_cnt")


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
