"""Column profile aggregation — the engine's core primitive.

The reference gathers per-column statistics through dozens of sequential
driver round-trips (2 ``count`` jobs + 3 ``collect`` jobs per numeric column,
``numerical_analyzer.py:113-192``; a ``distinct().count()`` job per column for
inference, ``column_analyzer.py:100``). This module computes *every*
statistic for *all* columns in **one wide hash aggregate**: a single Spark
job whose partial aggregation happens map-side, shuffling exactly one row.

The wide single-row result is then unpivoted driver-free (explode of an
array of structs — O(columns) rows) into the long profile table that all
drift operators join on. At 100 TB this is one full scan, no matter how many
columns or statistics are requested.

Covers SURVEY.md §2.4 A1-A5, A7, §2.2 P2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_data_drift_detector_spark.functions.lifetime import collect_local, keep, owned_run

DEFAULT_QUANTILES: tuple[float, ...] = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)


def _qname(p: float) -> str:
    # 0.25 -> "p25", 0.05 -> "p5", 0.001 -> "p0_1"
    pct = p * 100
    if float(pct).is_integer():
        return f"p{int(pct)}"
    return "p" + str(pct).replace(".", "_")


def numeric_columns(df: DataFrame) -> list[str]:
    """Columns with a numeric physical type (fractional, integral, decimal)."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.NumericType) and not isinstance(f.dataType, T.BooleanType)
    ]


def quantiles_by_counts(
    tagged: DataFrame,
    cols: list[str],
    qlist: list[float],
    sides: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Exact quantiles from a value histogram — O(distinct) shuffle, not
    O(rows) buffering.

    ``F.percentile`` (sort-based exact) is a TypedImperativeAggregate that
    buffers EVERY value in the final reducer — at 100 TB that is the single
    worst operator in the suite. But the exact quantile is a pure function
    of the (value → count) histogram: with ``cum`` the cumulative count in
    value order and ``t = p·(n−1)``, the order statistics are
    ``x_i = min(value where cum ≥ i+1)`` and the answer is
    ``x_⌊t⌋ + (t−⌊t⌋)·(x_⌊t⌋₊₁ − x_⌊t⌋)`` — identical to Spark's
    ``percentile`` and DuckDB's ``quantile_cont``. Plan: melt (one scan) →
    ``groupBy(column, value)`` with map-side combine → **distributed
    two-phase prefix sum** (``bucketed_cumsum``: equi-depth buckets +
    broadcast offsets + within-bucket windows) → tiny per-column
    aggregate. Shuffle volume is O(distinct values), and no single task
    ever materializes a column's full value list — parallelism is
    columns × buckets, not columns.

    Honest measurement: at sf0.1 on local[32] this is ~5% SLOWER than the
    sort-based path (the melt explodes rows×columns before the combine) —
    the point is the memory wall, not local wall-clock. ``F.percentile``
    holds every value of a column in ONE reducer's aggregation buffer;
    at 100 TB that is an OOM, while this path's state is bounded by
    distinct values per shuffle partition. Use it when exact quantiles are
    required at scale; prefer ``percentile_approx`` when sketches suffice
    (the ``detect_drift`` default).

    ``sides``: optional {prefix: boolean condition on the melted rows} for
    side-tagged pair input. Returns one row per column:
    ``column_name, [<pre>_]q array<double>``.
    """
    sides = sides if sides is not None else {"": F.lit(True)}
    return _quantiles_from_cells(_quantile_cells(tagged, cols, sides), qlist, sides)


def _quantile_cells(
    tagged: DataFrame,
    cols: list[str],
    sides: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """The (column_name, value → per-side count) histogram feeding
    :func:`_quantiles_from_cells` — factored out so rank statistics over
    TRANSFORMS of the values (e.g. the MAD's |x − median| deviations) can
    be re-derived from this O(distinct) table instead of re-scanning the
    raw data."""
    sides = sides if sides is not None else {"": F.lit(True)}
    extra = [c for c in ("__side",) if c in tagged.columns]
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"), F.col(c).cast("double").alias("value")
            )
            for c in cols
        ]
    )
    melted = (
        tagged.select(*extra, F.explode(pairs).alias("kv"))
        .select(*extra, "kv.*")
        .where(F.col("value").isNotNull())
    )
    return melted.groupBy("column_name", "value").agg(
        *[
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(f"__{pre}cnt")
            for pre, cond in sides.items()
        ]
    )


def _counts_percentile(v, cum, n: int, p: float) -> float:
    """Replicate the counts-mode order-statistic reconstruction over a
    sorted unique-value vector ``v`` with inclusive cumulative counts
    ``cum``: ``t = p·(n−1)``, ``lo = min(value where cum ≥ ⌊t⌋+1)``,
    ``hi = min(value where cum ≥ ⌊t⌋+2)`` (falling back to ``lo`` past
    the end), result ``lo + (t−⌊t⌋)·(hi−lo)`` — every operation the same
    IEEE double op in the same order as the Spark expressions in
    :func:`_quantiles_from_cells`, so values are bit-identical."""
    import math

    import numpy as np

    t = p * (n - 1)
    i = math.floor(t)
    lo = float(v[np.searchsorted(cum, i + 1, side="left")])
    idx_hi = int(np.searchsorted(cum, i + 2, side="left"))
    hi = float(v[idx_hi]) if idx_hi < len(v) else lo
    frac = t - i
    return lo + frac * (hi - lo)


def _counts_quantile_rows(
    cells: DataFrame,
    qlist: list[float],
    sides: dict[str, "F.Column"] | None = None,
    mad: bool = False,
) -> DataFrame:
    """One-task NumPy reconstruction of the counts-mode quantile rows
    from a SMALL value histogram — the fast path of
    :func:`_quantiles_from_cells` below ``SMALL_CUMSUM_CELLS``. Same
    output schema (one row per column present in cells: ``column_name,
    [<pre>_]q array<double>``), values bit-identical (the cumulative
    counts are integer-exact under any summation order and the
    interpolation replicates the Spark expression op-for-op; a side with
    zero mass yields an array of NULLs exactly like the ``WHEN n > 0``
    guard). ``mad=True`` (single-side only) additionally emits ``__mad``
    — the median of the |value − median| DEVIATION histogram derived
    in-task (multiplicities added when ``v = med ± d`` collide), exactly
    the ``robust_profile`` counts-mode second pass."""
    sides = sides if sides is not None else {"": F.lit(True)}
    prefixes = list(sides)
    if mad and prefixes != [""]:
        raise ValueError("mad fusion is single-side only")
    qvals = [float(p) for p in qlist]
    fields = ["`column_name` string"] + [
        f"`{pre}q` array<double>" for pre in prefixes
    ]
    if mad:
        fields.append("`__mad` double")
    schema = ", ".join(fields)
    cnt_cols = {pre: f"__{pre}cnt" for pre in prefixes}

    def fn(pdf):
        import numpy as np
        import pandas as pd

        out: dict[str, list] = {"column_name": []}
        for pre in prefixes:
            out[f"{pre}q"] = []
        if mad:
            out["__mad"] = []
        for c in pdf["column_name"].unique():
            sub = pdf[pdf["column_name"] == c]
            v = sub["value"].to_numpy(dtype="float64")
            o = np.argsort(v, kind="mergesort")
            v = v[o]
            out["column_name"].append(c)
            for pre in prefixes:
                cnt = sub[cnt_cols[pre]].to_numpy(dtype="int64")[o]
                cum = np.cumsum(cnt)
                n = int(cum[-1])
                if n == 0:
                    out[f"{pre}q"].append([None] * len(qvals))
                    if mad:
                        out["__mad"].append(None)
                    continue
                out[f"{pre}q"].append(
                    [_counts_percentile(v, cum, n, p) for p in qvals]
                )
                if mad:
                    med = _counts_percentile(v, cum, n, 0.5)
                    d = np.abs(v - med)
                    od = np.argsort(d, kind="mergesort")
                    ds, dc = d[od], cnt[od]
                    first = np.r_[True, ds[1:] != ds[:-1]]
                    dcum = np.cumsum(dc)
                    last = np.r_[np.flatnonzero(first)[1:] - 1, ds.size - 1]
                    out["__mad"].append(
                        _counts_percentile(ds[first], dcum[last], n, 0.5)
                    )
        return pd.DataFrame(out)

    proj = cells.select(
        "column_name", "value", *[cnt_cols[pre] for pre in prefixes]
    )
    return proj.groupBy().applyInPandas(fn, schema)


def _quantiles_from_cells(
    cells: DataFrame,
    qlist: list[float],
    sides: dict[str, "F.Column"] | None = None,
    _n_cells: int | None = None,
) -> DataFrame:
    """Exact quantiles from a pre-built value histogram (the second half
    of :func:`quantiles_by_counts`): distributed prefix sum over the
    cells, then the order-statistic reconstruction per column. The cells
    and the prefix sum's cache are kept for the enclosing owned run
    (``functions.lifetime``). Below ``SMALL_CUMSUM_CELLS`` the whole
    reconstruction collapses into ONE NumPy task
    (:func:`_counts_quantile_rows`) — no edge fit, no windows, no
    per-cell re-aggregation; ``_n_cells`` lets a caller that already
    counted the persisted cells skip the gate's count job."""
    sides = sides if sides is not None else {"": F.lit(True)}
    from pyspark_data_drift_detector_spark.operators.cumulative import (
        SMALL_CUMSUM_CELLS,
        bucketed_cumsum,
    )

    cells = keep(cells)
    n_cells = _n_cells if _n_cells is not None else cells.count()
    if n_cells <= SMALL_CUMSUM_CELLS:
        return _counts_quantile_rows(cells, qlist, sides)
    cells = bucketed_cumsum(
        cells, "column_name", "value", [f"__{pre}cnt" for pre in sides],
        _n_cells=n_cells,
    )
    aggs = []
    for pre in sides:
        n = F.col(f"tot___{pre}cnt")
        cum = F.col(f"cum___{pre}cnt")
        for j, p in enumerate(qlist):
            t = F.lit(float(p)) * (n - 1)
            i = F.floor(t)
            aggs.append(F.min(F.when(cum >= i + 1, F.col("value"))).alias(f"__{pre}lo{j}"))
            aggs.append(F.min(F.when(cum >= i + 2, F.col("value"))).alias(f"__{pre}hi{j}"))
        aggs.append(F.max(n).alias(f"__{pre}ntot"))
    percol = cells.groupBy("column_name").agg(*aggs)
    outs = []
    for pre in sides:
        n = F.col(f"__{pre}ntot")
        qvals = []
        for j, p in enumerate(qlist):
            t = F.lit(float(p)) * (n - 1)
            frac = t - F.floor(t)
            lo = F.col(f"__{pre}lo{j}")
            hi = F.coalesce(F.col(f"__{pre}hi{j}"), lo)
            qvals.append(F.when(n > 0, lo + frac * (hi - lo)))
        outs.append(F.array(*qvals).alias(f"{pre}q" if pre else "q"))
    return percol.select("column_name", *outs)


def _quantile_agg_sql(
    dc: str,
    qlist: list[float],
    quantile_mode: str,
    exact_quantiles: bool,
    quantile_accuracy: int,
    kll_k: int = 800,
) -> str:
    """The quantile aggregate (as a SQL fragment) for one column under the
    selected mode.

    ``"kll"`` uses Spark 4.1's Datasketches KllDoublesSketch
    (``kll_sketch_agg_double`` → ``kll_sketch_get_quantile_double``): a
    mergeable, provably-bounded-rank-error sketch whose per-partition state
    is O(k log n) — the preferred approximate path for a 1000-executor
    aggregation (sketches merge associatively on the reducer; no value
    list ever materializes). Returned quantiles are stream values (no
    interpolation), so it is an approximate mode, not an oracle mode.
    ``kll_k`` is the sketch's accuracy/state knob (Datasketches K):
    the default 800 ≈ 0.4% rank error at 99% confidence; a 100×-scale
    user tightens or loosens it without editing the library.

    SQL-string assembly (here and throughout this module): the profile
    aggregate is O(columns × stats) expressions, and building each via the
    Column API costs several synchronous py4j round-trips — measured
    13,600 bridge calls ≈ 1.8 s of DRIVER time for an 8-column pair
    profile, pure plan construction. One ``selectExpr`` ships the whole
    expression list across the bridge in a single call and parses it
    JVM-side into the identical Catalyst expressions.
    """
    probs = "array(" + ",".join(repr(float(p)) for p in qlist) + ")"
    if quantile_mode == "kll":
        return f"kll_sketch_get_quantile_double(kll_sketch_agg_double({dc}, {int(kll_k)}), {probs})"
    if exact_quantiles:
        return f"percentile({dc}, {probs})"
    return f"percentile_approx({dc}, {probs}, {int(quantile_accuracy)})"


def _percentile_from_sorted(v, n: int, p: float) -> float:
    """Replicate Spark ``Percentile.getPercentile`` over a sorted vector:
    ``pos = p·(n−1)``, order statistics at ranks ``⌊pos⌋``/``⌈pos⌉``
    (0-indexed), interpolation ``(⌈pos⌉−pos)·lo + (pos−⌊pos⌋)·hi`` with
    the integer-position and equal-key short-circuits — every operation
    the same IEEE double op in the same order, so values are
    bit-identical to ``percentile`` (and the DuckDB oracle)."""
    import math

    pos = p * (n - 1)
    lower = math.floor(pos)
    higher = math.ceil(pos)
    lo = float(v[lower])
    if higher == lower:
        return lo
    hi = float(v[higher])
    if lo == hi:
        return lo
    return (higher - pos) * lo + (pos - lower) * hi


def _sorted_quantile_row(
    df: DataFrame,
    specs: list[tuple],
    qlist: list[float],
    side_col: str | None = None,
) -> DataFrame:
    """ONE-row frame of exact quantile arrays via a single NumPy sort per
    spec — the exact-mode engine behind ``numeric_profile`` /
    ``numeric_profile_pair`` / ``_wide_quantile_row``.

    ``F.percentile`` (sort-based exact) is a TypedImperativeAggregate
    whose buffer is a boxed per-value ``OpenHashMap``; for a
    high-cardinality double column the final reducer merges every
    partition's map and sorts boxed keys in ONE task — measured 3.7-4.3 s
    for the 7-column lineitem profile at sf0.1 where a NumPy
    ``sort`` + rank lookup over the same gathered values takes 1.1-2.0 s
    (and a JVM ``array_sort(collect_list(..))`` rewrite measured 4.4-5.5 s,
    so the win is the primitive float64 sort, not the gather shape).
    This path ships the projected columns to one Arrow batch stream
    (``groupBy().applyInPandas``) and computes every requested rank with
    :func:`_percentile_from_sorted` — values bit-identical to
    ``percentile``.

    Scale contract (unchanged from the ``percentile`` engine it
    replaces): exact quantiles of an unbounded-cardinality column
    fundamentally hold one column's values in one task — ``percentile``
    buffered them as a boxed map (~48 B/entry) where this gather holds a
    packed float64 vector (8 B/value), so the memory wall moves OUT by
    ~6x but remains; at 100 TB use ``quantile_mode="counts"``
    (O(distinct) distributed state) or ``"kll"`` (mergeable sketches) —
    the documented scale paths, both unchanged. Unlike ``percentile``'s
    map-side partials, the gather ships raw rows; at bench scale the
    shuffle is MB-sized and the sort dominates, which is exactly the
    regime this engine targets.

    ``specs``: ``(out_name, src_col, side_value, mad_name)`` — one
    output array column per spec; ``side_value`` (with ``side_col``)
    restricts the spec's rows to one side of a tagged union;
    ``mad_name`` additionally emits the exact median absolute deviation
    around the spec's median (the ``robust_profile`` fusion — it makes
    the second pass a pure-codegen aggregate). NULLs are dropped per
    column exactly like ``percentile``; a spec with zero surviving rows
    yields a NULL array (``percentile``'s empty-input result). Zero
    INPUT rows yield zero output rows — callers attach with a broadcast
    left join (or already propagate emptiness), preserving the 1-row
    aggregate's NULL semantics.
    """
    qvals = [float(p) for p in qlist]
    cols = sorted({c for _, c, _, _ in specs})
    sel = [F.col(c).cast("double").alias(c) for c in cols]
    if side_col is not None:
        sel = [F.col(side_col)] + sel
    proj = df.select(*sel)
    fields = []
    for out, _c, _sv, madn in specs:
        fields.append(f"`{out}` array<double>")
        if madn:
            fields.append(f"`{madn}` double")
    schema = ", ".join(fields)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        out: dict[str, list] = {}
        for name, col, sv, madn in specs:
            s = pdf[col]
            if sv is not None:
                s = s[pdf[side_col] == sv]
            v = s.to_numpy(dtype="float64", na_value=float("nan"))
            v = v[~np.isnan(v)]
            v.sort()
            n = int(v.size)
            if n == 0:
                out[name] = [None]
                if madn:
                    out[madn] = [None]
                continue
            out[name] = [[_percentile_from_sorted(v, n, p) for p in qvals]]
            if madn:
                med = _percentile_from_sorted(v, n, 0.5)
                d = np.abs(v - med)
                d.sort()
                out[madn] = [_percentile_from_sorted(d, n, 0.5)]
        return pd.DataFrame(out)

    return proj.groupBy().applyInPandas(fn, schema)


def _attach_quantile_row(wide: DataFrame, qrow: DataFrame) -> DataFrame:
    """Attach the 1-row gather to the 1-row stats aggregate. A plain
    crossJoin would turn ``qrow``'s zero-rows-on-empty-input into an
    empty profile; the broadcast LEFT join keeps the stats row and NULLs
    the quantile arrays — exactly ``percentile``'s empty-input shape."""
    return (
        wide.withColumn("__qk", F.lit(1))
        .join(F.broadcast(qrow.withColumn("__qk", F.lit(1))), "__qk", "left")
        .drop("__qk")
    )


def numeric_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple[float, ...] = DEFAULT_QUANTILES,
    exact_quantiles: bool = True,
    quantile_accuracy: int = 10000,
    with_shape: bool = True,
    quantile_mode: str = "auto",
    kll_k: int = 800,
) -> DataFrame:
    """Long-format numeric profile: one row per column, one Spark job total.

    ``quantile_mode``: ``"auto"`` (sort-based exact when ``exact_quantiles``
    else approx sketch), ``"exact"`` (sort-based exact whatever
    ``exact_quantiles`` says), ``"counts"`` — exact via the value-histogram
    reconstruction (``quantiles_by_counts``), the preferred exact path at
    scale for bounded-cardinality columns — or ``"kll"``, the mergeable
    Datasketches KLL sketch (see ``_quantile_agg_expr``), the preferred
    approximate path at extreme scale.

    Output schema::

        column_name string, n_rows long, n long, null_count long,
        null_ratio double, min double, max double, mean double,
        stddev double, [skewness double, kurtosis double,]
        p1 .. p99 double  (per requested quantile)

    ``exact_quantiles=True`` uses ``F.percentile`` (sort-based exact — matches
    the DuckDB oracle's ``quantile_cont``); at 100 TB switch to
    ``exact_quantiles=False`` → ``percentile_approx`` (single-pass
    KLL-style sketch, reference's choice at ``numerical_analyzer.py:306-307``).

    Reference semantics: scalar stats ``numerical_analyzer.py:131-192``;
    null counts folded into conditional aggregates instead of separate
    ``filter().count()`` jobs (``numerical_analyzer.py:125``).
    """
    cols = columns if columns is not None else numeric_columns(df)
    if not cols:
        raise ValueError("no numeric columns to profile")
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns(cols)

    qlist = list(quantiles)
    aggs: list[str] = ["count(1) AS `__n_rows`"]
    qaggs: list[str] = []
    for c in cols:
        dc = f"CAST(`{c}` AS DOUBLE)"
        aggs += [
            f"count({dc}) AS `{c}__n`",
            f"sum(CAST(`{c}` IS NULL AS BIGINT)) AS `{c}__null_count`",
            f"min({dc}) AS `{c}__min`",
            f"max({dc}) AS `{c}__max`",
            f"avg({dc}) AS `{c}__mean`",
            f"stddev({dc}) AS `{c}__stddev`",
        ]
        if with_shape:
            aggs += [
                f"skewness({dc}) AS `{c}__skewness`",
                f"kurtosis({dc}) AS `{c}__kurtosis`",
            ]
        if qlist and quantile_mode != "counts":
            qsql = _quantile_agg_sql(
                dc, qlist, quantile_mode, exact_quantiles,
                quantile_accuracy, kll_k,
            )
            qaggs.append(f"{qsql} AS `{c}__q`")

    # Quantiles live in their OWN subtree (one plan, independent stages
    # the scheduler overlaps): percentile_approx/kll are
    # TypedImperativeAggregates, and ONE of them in an Aggregate node
    # forces the whole node onto the interpreted ObjectHashAggregate path
    # — dragging the ~100 simple stats out of whole-stage codegen
    # (measured 3.2s → 2.5s exact, 1.9s → 1.4s approx for the pair
    # profile at sf0.1). Exact mode uses the NumPy gather engine
    # (_sorted_quantile_row — measured 3.7-4.3s → 1.1-2.0s for this
    # profile at sf0.1, identical values).
    wide = df.selectExpr(*aggs)
    if qlist and (quantile_mode == "exact" or (quantile_mode == "auto" and exact_quantiles)):
        qrow = _sorted_quantile_row(
            df, [(f"{c}__q", c, None, None) for c in cols], qlist
        )
        wide = _attach_quantile_row(wide, qrow)
    elif qaggs:
        wide = wide.crossJoin(df.selectExpr(*qaggs))

    counts_mode = bool(qlist) and quantile_mode == "counts"
    shape_fields = ["skewness", "kurtosis"] if with_shape else []
    structs = []
    for c in cols:
        fields = [
            f"'column_name', '{c}'",
            f"'n_rows', `__n_rows`",
            f"'n', `{c}__n`",
            f"'null_count', `{c}__null_count`",
            f"'null_ratio', `{c}__null_count` / `__n_rows`",
            f"'min', `{c}__min`",
            f"'max', `{c}__max`",
            f"'mean', `{c}__mean`",
            f"'stddev', `{c}__stddev`",
        ]
        fields += [f"'{s}', `{c}__{s}`" for s in shape_fields]
        if not counts_mode:
            fields += [
                f"'{_qname(p)}', `{c}__q`[{i}]" for i, p in enumerate(qlist)
            ]
        structs.append("named_struct(" + ", ".join(fields) + ")")

    long = wide.selectExpr("inline(array(" + ", ".join(structs) + "))")
    if counts_mode:
        qtable = quantiles_by_counts(df, cols, qlist)
        long = long.join(F.broadcast(qtable), "column_name", "left").select(
            *long.columns, *[F.col("q")[i].alias(_qname(p)) for i, p in enumerate(qlist)]
        )
    return long


def numeric_profile_pair(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple[float, ...] = DEFAULT_QUANTILES,
    exact_quantiles: bool = True,
    quantile_accuracy: int = 10000,
    with_shape: bool = False,
    quantile_mode: str = "auto",
    kll_k: int = 800,
) -> DataFrame:
    """Both sides' profiles in ONE scan+aggregate over a side-tagged union.

    ``quantile_mode="counts"`` swaps the sort-based exact percentile for the
    value-histogram reconstruction (see ``quantiles_by_counts``) — both
    sides' histograms come from the same single melt+groupBy pass.
    ``quantile_mode="kll"`` uses the mergeable Datasketches KLL sketch
    (``_quantile_agg_expr``) — bounded-error, O(k log n) state per side.

    Returns the pre-joined shape ``column_name, ref_<stat>..., curr_<stat>...``
    that drift scoring consumes directly. Compared to profiling each side
    separately this halves job count and lets Spark schedule one job whose
    partial aggregation is map-side for both sides (conditional aggregates:
    ``F.percentile(when(side='r', col))`` ignores the other side's rows as
    nulls). At 100 TB: exactly one pass over each snapshot, shuffling 1 row.
    """
    cols = columns if columns is not None else sorted(
        set(numeric_columns(df_ref)) & set(numeric_columns(df_curr))
    )
    if not cols:
        raise ValueError("no numeric columns to profile")
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns(cols)
    tagged = df_ref.select(F.lit("r").alias("__side"), *cols).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *cols)
    )
    qlist = list(quantiles)
    shape_fields = ["skewness", "kurtosis"] if with_shape else []

    # SQL-string assembly — see _quantile_agg_sql for why (py4j round-trips
    # dominated driver-side plan construction for these wide aggregates)
    sides = {"ref": "__side = 'r'", "curr": "__side = 'c'"}
    aggs: list[str] = []
    qaggs: list[str] = []
    for pre, cond in sides.items():
        aggs.append(f"sum(CAST({cond} AS BIGINT)) AS `__{pre}_n_rows`")
        for c in cols:
            dc = f"CASE WHEN {cond} THEN CAST(`{c}` AS DOUBLE) END"
            aggs += [
                f"count({dc}) AS `{pre}__{c}__n`",
                f"sum(CAST(({cond} AND `{c}` IS NULL) AS BIGINT)) AS `{pre}__{c}__null_count`",
                f"min({dc}) AS `{pre}__{c}__min`",
                f"max({dc}) AS `{pre}__{c}__max`",
                f"avg({dc}) AS `{pre}__{c}__mean`",
                f"stddev({dc}) AS `{pre}__{c}__stddev`",
            ]
            if with_shape:
                aggs += [
                    f"skewness({dc}) AS `{pre}__{c}__skewness`",
                    f"kurtosis({dc}) AS `{pre}__{c}__kurtosis`",
                ]
            if qlist and quantile_mode != "counts":
                qsql = _quantile_agg_sql(
                    dc, qlist, quantile_mode, exact_quantiles,
                    quantile_accuracy, kll_k,
                )
                qaggs.append(f"{qsql} AS `{pre}__{c}__q`")

    # quantile subtree split from the codegen-able stats — see numeric_profile
    wide = tagged.selectExpr(*aggs)
    if qlist and (quantile_mode == "exact" or (quantile_mode == "auto" and exact_quantiles)):
        # exact mode: ONE NumPy gather over the side-tagged union serves
        # both sides' per-column quantile arrays (identical values to the
        # conditional percentile aggregates it replaces)
        qrow = _sorted_quantile_row(
            tagged,
            [
                (f"{pre}__{c}__q", c, side_val, None)
                for pre, side_val in (("ref", "r"), ("curr", "c"))
                for c in cols
            ],
            qlist,
            side_col="__side",
        )
        wide = _attach_quantile_row(wide, qrow)
    elif qaggs:
        wide = wide.crossJoin(tagged.selectExpr(*qaggs))
    counts_mode = bool(qlist) and quantile_mode == "counts"
    structs = []
    for c in cols:
        fields = [f"'column_name', '{c}'"]
        for pre in sides:
            fields += [
                f"'{pre}_n_rows', `__{pre}_n_rows`",
                f"'{pre}_n', `{pre}__{c}__n`",
                f"'{pre}_null_count', `{pre}__{c}__null_count`",
                f"'{pre}_null_ratio', `{pre}__{c}__null_count` / `__{pre}_n_rows`",
                f"'{pre}_min', `{pre}__{c}__min`",
                f"'{pre}_max', `{pre}__{c}__max`",
                f"'{pre}_mean', `{pre}__{c}__mean`",
                f"'{pre}_stddev', `{pre}__{c}__stddev`",
            ]
            fields += [f"'{pre}_{s}', `{pre}__{c}__{s}`" for s in shape_fields]
            if not counts_mode:
                fields += [
                    f"'{pre}_{_qname(p)}', `{pre}__{c}__q`[{i}]"
                    for i, p in enumerate(qlist)
                ]
        structs.append("named_struct(" + ", ".join(fields) + ")")
    long = wide.selectExpr("inline(array(" + ", ".join(structs) + "))")
    if counts_mode:
        qtable = quantiles_by_counts(
            tagged,
            cols,
            qlist,
            sides={"ref_": F.expr(sides["ref"]), "curr_": F.expr(sides["curr"])},
        )
        long = long.join(F.broadcast(qtable), "column_name", "left").select(
            *long.columns,
            *[
                F.col(f"{pre}q")[i].alias(f"{pre}{_qname(p)}")
                for pre in ("ref_", "curr_")
                for i, p in enumerate(qlist)
            ],
        )
    return long


def categorical_summary(
    df: DataFrame,
    columns: list[str],
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column counts/nulls/cardinality for categorical columns, one job.

    ``exact_distinct=False`` switches to ``approx_count_distinct`` (HLL) —
    the 100 TB path when cardinality only gates heuristics (SURVEY §2.4 A7).
    Reference: ``categorical_analyzer.py:126-180``.
    """
    if not columns:
        raise ValueError("no categorical columns to summarize")
    distinct_fn = "count(DISTINCT {0})" if exact_distinct else "approx_count_distinct({0})"
    aggs: list[str] = ["count(1) AS `__n_rows`"]
    for c in columns:
        aggs += [
            f"sum(CAST(`{c}` IS NULL AS BIGINT)) AS `{c}__null_count`",
            distinct_fn.format(f"`{c}`") + f" AS `{c}__distinct`",
        ]
    wide = df.selectExpr(*aggs)
    structs = [
        "named_struct("
        f"'column_name', '{c}', "
        f"'n_rows', `__n_rows`, "
        f"'null_count', `{c}__null_count`, "
        f"'null_ratio', `{c}__null_count` / `__n_rows`, "
        f"'distinct_count', CAST(`{c}__distinct` AS BIGINT))"
        for c in columns
    ]
    return wide.selectExpr("inline(array(" + ", ".join(structs) + "))")


def _wide_quantile_row(
    df: DataFrame,
    columns: list[str],
    qlist: list[float],
    quantile_mode: str,
    prefix: str = "__b",
    kll_k: int = 800,
) -> DataFrame:
    """ONE-row frame with ``{prefix}{i}`` = column i's quantile array,
    computed under the selected mode:

    * ``"exact"`` — sort-based ``percentile`` (buffers each column's
      values in its aggregation buffer; the oracle contract, fine at
      bench scale, the memory wall at 100 TB),
    * ``"counts"`` — :func:`quantiles_by_counts`: exact values from the
      (value → count) histogram, state bounded by distinct values (the
      scale path for exact ranks),
    * ``"kll"`` — Datasketches KLL sketch, mergeable bounded-rank-error
      state (the scale path when approximate ranks suffice).
    """
    if quantile_mode == "exact":
        # NumPy gather engine — identical values to the sort-based
        # ``percentile`` aggregate it replaces (see _sorted_quantile_row)
        return _sorted_quantile_row(
            df,
            [(f"{prefix}{i}", c, None, None) for i, c in enumerate(columns)],
            [float(p) for p in qlist],
        )
    if quantile_mode == "kll":
        probs = "array(" + ", ".join(f"{float(p)!r}D" for p in qlist) + ")"
        frag = (
            "kll_sketch_get_quantile_double("
            f"kll_sketch_agg_double(CAST(`{{c}}` AS DOUBLE), {int(kll_k)}), "
            + probs
            + ")"
        )
        return df.agg(
            *[
                F.expr(frag.format(c=c) + f" AS {prefix}{i}")
                for i, c in enumerate(columns)
            ]
        )
    if quantile_mode != "counts":
        raise ValueError(f"unknown quantile_mode: {quantile_mode!r}")
    rows = quantiles_by_counts(df, columns, [float(p) for p in qlist])
    return rows.groupBy().agg(
        *[
            F.max(F.when(F.col("column_name") == c, F.col("q"))).alias(
                f"{prefix}{i}"
            )
            for i, c in enumerate(columns)
        ]
    )


def robust_profile(
    df: DataFrame,
    columns: list[str],
    trim: float = 0.05,
    quantile_mode: str = "exact",
    kll_k: int = 800,
    materialize: bool = True,
) -> DataFrame:
    """Outlier-resistant location/scale profile per column: trimmed mean
    (drop the outer ``trim`` mass on each side), winsorized mean (clamp
    to the trim bounds instead of dropping), median, and MAD — the
    panel that stays stable when a feed starts emitting sentinel values
    (-9999, overflow garbage) that wreck mean/stddev profiles.

    Two passes by necessity (rank statistics precede the conditional
    means): pass 1 is ONE wide aggregate computing each column's
    [trim, 0.5, 1-trim] percentiles; pass 2 broadcasts that 1-row bound
    table back and re-aggregates the base table in a SECOND wide
    ungrouped aggregate — trimmed/winsorized means as
    conditional/clamped averages, MAD as the median absolute deviation
    from the median. No melt + groupBy(column): a per-column-key shuffle
    would sort each column's full deviation vector in ONE reducer task;
    the wide-aggregate shape keeps every percentile buffer map-side
    partial. Values exactly AT a bound are kept (closed interval), so
    heavy tie groups at the bound behave deterministically.

    Counts mode reads the raw table ONCE for all rank statistics: the
    value histogram (``_quantile_cells``) yields the bounds, and the
    MAD's deviation histogram is DERIVED from it (|value − median|
    re-grouped over O(distinct) cells — multiplicities add when
    ``v = med ± d`` collide), never a second raw scan. The two small
    kept frames (cells, per-column quantiles) are released by
    ``materialize=True`` (default): the O(columns)-row result comes back
    as a local relation from one owned run, so nothing leaks into
    long-lived sessions; ``materialize=False`` returns the plan lazily and
    leaves cache lifetime to the caller (the plan-inspection knob,
    matching ``key_skew_profile``/``zipf_fit``).

    Output: ``column_name, n, lo, hi, median, mad, trimmed_mean,
    winsorized_mean, n_trimmed``.

    ``quantile_mode`` selects the rank-statistic engine (the
    ``numeric_profile(quantile_mode=)`` knob): ``"exact"`` (default, the
    oracle contract — sort-based ``percentile``, buffers each column in
    its aggregation buffer), ``"counts"`` (exact values from the value
    histogram, state bounded by distinct values — the 100 TB path for
    exact ranks; bounds AND the MAD median both run on histograms), or
    ``"kll"`` (mergeable Datasketches sketch, bounded rank error). The
    conditional-mean pass is identical in every mode.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    if quantile_mode == "counts" and materialize:
        with owned_run():
            return collect_local(
                [robust_profile(df, columns, trim, quantile_mode, kll_k, materialize=False)]
            )[0]
    if not 0.0 < trim < 0.5:
        raise ValueError(f"trim must be in (0, 0.5), got {trim}")
    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    lo_p, hi_p = float(trim), float(1.0 - trim)
    cells = None
    if quantile_mode == "counts":
        # ONE melt + groupBy builds the value histogram; the bounds AND
        # the MAD deviation quantiles both come from it — the deviation
        # histogram is |value − median| re-grouped over O(distinct)
        # cells, so the raw table is never re-scanned for the MAD pass
        from pyspark_data_drift_detector_spark.operators.cumulative import (
            SMALL_CUMSUM_CELLS,
        )

        cells = keep(_quantile_cells(df, columns))
        # one count gates BOTH rank passes (it materializes the persist
        # every pass needs anyway); below the gate the bounds AND the
        # MAD deviation-histogram median fuse into ONE NumPy task
        # (_counts_quantile_rows mad fusion — the counts-mode sibling of
        # the exact-mode _sorted_quantile_row fusion), removing the
        # second serial cumsum pass over the derived deviation cells
        n_cells = cells.count()
        counts_fast = n_cells <= SMALL_CUMSUM_CELLS
        if counts_fast:
            qt = keep(_counts_quantile_rows(cells, [lo_p, 0.5, hi_p], mad=True))
        else:
            qt = keep(_quantiles_from_cells(cells, [lo_p, 0.5, hi_p], _n_cells=n_cells))
        bounds = qt.groupBy().agg(
            *[
                F.max(F.when(F.col("column_name") == c, F.col("q"))).alias(
                    f"__b{i}"
                )
                for i, c in enumerate(columns)
            ]
        )
    elif quantile_mode == "exact":
        # fused gather: bounds AND the exact MAD come from the ONE NumPy
        # sort per column (|x − median| re-sorted in the same Python
        # task), so the second pass below is a pure-codegen conditional
        # aggregate — the interpreted percentile(abs(x − med)) object
        # aggregate it replaces was the pass's dominant cost
        bounds = _sorted_quantile_row(
            df,
            [(f"__b{i}", c, None, f"__gmad{i}") for i, c in enumerate(columns)],
            [lo_p, 0.5, hi_p],
        )
    else:
        bounds = _wide_quantile_row(
            df, columns, [lo_p, 0.5, hi_p], quantile_mode, prefix="__b",
            kll_k=kll_k,
        )
    aggs = []
    for i, c in enumerate(columns):
        x = f"CAST(`{c}` AS DOUBLE)"
        lo, med, hi = f"__b{i}[0]", f"__b{i}[1]", f"__b{i}[2]"
        if quantile_mode == "exact":
            aggs.append(f"first(__gmad{i}) AS __mad{i}")
        elif quantile_mode == "kll":
            aggs.append(
                "kll_sketch_get_quantile_double(kll_sketch_agg_double("
                f"abs({x} - {med}), {int(kll_k)}), 0.5D) AS __mad{i}"
            )
        aggs += [
            f"count({x}) AS __n{i}",
            f"avg(CASE WHEN {x} >= {lo} AND {x} <= {hi} THEN {x} END)"
            f" AS __tm{i}",
            f"avg(CASE WHEN {x} < {lo} THEN {lo} WHEN {x} > {hi} THEN {hi}"
            f" ELSE {x} END) AS __wm{i}",
            f"sum(CASE WHEN {x} < {lo} OR {x} > {hi} THEN 1 ELSE 0 END)"
            f" AS __nt{i}",
        ]
    aggs += [f"first(__b{i}) AS __bb{i}" for i in range(len(columns))]
    wide = df.join(F.broadcast(bounds)).groupBy().agg(
        *[F.expr(a) for a in aggs]
    )
    if quantile_mode == "counts":
        # the MAD median runs on the DEVIATION value histogram — exact,
        # no per-column value buffering, and DERIVED from the same cells
        # as the bounds (|value − median| re-grouped: multiplicities add
        # when v = med ± d collide), so no second raw scan. Below the
        # gate it already rode the fused gather (qt carries __mad).
        if counts_fast:
            mad_row = qt.groupBy().agg(
                *[
                    F.max(
                        F.when(F.col("column_name") == c, F.col("__mad"))
                    ).alias(f"__mad{i}")
                    for i, c in enumerate(columns)
                ]
            )
        else:
            med = qt.selectExpr("column_name", "q[1] AS __med")
            dev_cells = (
                cells.join(F.broadcast(med), "column_name")
                .selectExpr(
                    "column_name", "abs(value - __med) AS value", "__cnt"
                )
                .groupBy("column_name", "value")
                .agg(F.sum("__cnt").alias("__cnt"))
            )
            mad_row = (
                _quantiles_from_cells(dev_cells, [0.5])
                .groupBy()
                .agg(
                    *[
                        F.max(
                            F.when(F.col("column_name") == c, F.col("q")[0])
                        ).alias(f"__mad{i}")
                        for i, c in enumerate(columns)
                    ]
                )
            )
        wide = wide.join(F.broadcast(mad_row))
    structs = ", ".join(
        f"named_struct('column_name', '{c}', 'n', CAST(__n{i} AS BIGINT),"
        f" 'lo', __bb{i}[0], 'median', __bb{i}[1],"
        f" 'hi', __bb{i}[2], 'mad', __mad{i},"
        f" 'trimmed_mean', __tm{i}, 'winsorized_mean', __wm{i},"
        f" 'n_trimmed', CAST(__nt{i} AS BIGINT))"
        for i, c in enumerate(columns)
    )
    return wide.selectExpr(f"inline(array({structs}))")
