"""Distribution analysis: quantile shifts, shape change, rare values, histograms.

SURVEY §2.9 M9-M11 + §2.4 A10, re-expressed distributed:
- quantile shifts (``distribution_analyzer.py:83-151``) from one pair-profile
  aggregate instead of 2 ``approxQuantile`` driver calls per column;
- shape change (``distribution_analyzer.py:153-227``) from the same pass;
- rare-value changes (``distribution_analyzer.py:321-417``) from the aligned
  frequency cells (no per-column collect of full category domains — the
  100 TB cliff called out in SURVEY §7.4 risk 5);
- histograms: the reference drops to ``rdd.flatMap().histogram(10)``
  (``distribution_analyzer.py:440-449``); here a DataFrame-native
  equi-width bucketing — melt → broadcast-join per-column min/max →
  ``groupBy(column, bucket)`` — one pass for ALL columns, no RDD.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.functions.lifetime import keep, owned_result
from pyspark_data_drift_detector_spark.operators.frequency import pair_frequency_cells
from pyspark_data_drift_detector_spark.operators.profile import numeric_profile_pair

QUANTILES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)


def quantile_shift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    quantiles: tuple[float, ...] = QUANTILES,
    quantile_mode: str = "approx",
    quantile_accuracy: int = 100,
) -> DataFrame:
    """Per-(column, quantile) abs/rel shifts — long format.

    Default approx quantiles with accuracy=100 ≈ the reference's
    ``approxQuantile(..., 0.01)`` relative error; ``quantile_mode`` picks
    the engine as in ``profile.numeric_profile``. Rel-diff convention
    (``distribution_analyzer.py:112-121``): ref==0 → |c-r|/max(|c|,1e-10)
    if c != 0 else 0; always absolute.
    """
    pair = numeric_profile_pair(
        df_ref,
        df_curr,
        columns=columns,
        quantiles=quantiles,
        quantile_mode=quantile_mode,
        quantile_accuracy=quantile_accuracy,
    )
    return quantile_shift_from_pair(pair, quantiles)


def quantile_shift_from_pair(
    pair: DataFrame, quantiles: tuple[float, ...] = QUANTILES
) -> DataFrame:
    """Quantile shifts from a prebuilt pair profile (``ref_p*``/``curr_p*``
    columns) — lets the pipeline derive this family from the SAME profile
    aggregate the numeric-drift family already ran instead of re-scanning
    both snapshots."""
    from pyspark_data_drift_detector_spark.operators.profile import _qname

    # SQL-string assembly — see the profile module docstring for why
    rows = []
    for p in quantiles:
        r, c = f"ref_{_qname(p)}", f"curr_{_qname(p)}"
        rel = (
            f"CASE WHEN {r} != 0 THEN abs(({c} - {r}) / {r})"
            f" WHEN {c} != 0 THEN abs({c} - {r}) / greatest(abs({c}), 1e-10D)"
            " ELSE 0.0D END"
        )
        rows.append(
            f"named_struct('quantile', '{p}', 'ref_value', {r}, 'curr_value', {c},"
            f" 'abs_diff', abs({c} - {r}), 'rel_diff', {rel})"
        )
    return pair.selectExpr("column_name", "inline(array(" + ", ".join(rows) + "))")


def max_quantile_shift(shifts: DataFrame) -> DataFrame:
    """Most-shifted quantile per column (by abs and by rel), one row/column."""
    w_abs = Window.partitionBy("column_name").orderBy(F.desc("abs_diff"), F.asc("quantile"))
    w_rel = Window.partitionBy("column_name").orderBy(F.desc("rel_diff"), F.asc("quantile"))
    ranked = shifts.withColumn("rn_abs", F.row_number().over(w_abs)).withColumn(
        "rn_rel", F.row_number().over(w_rel)
    )
    abs_top = ranked.filter(F.col("rn_abs") == 1).select(
        "column_name",
        F.col("quantile").alias("max_abs_shift_quantile"),
        F.col("abs_diff").alias("max_abs_shift"),
    )
    rel_top = ranked.filter(F.col("rn_rel") == 1).select(
        "column_name",
        F.col("quantile").alias("max_rel_shift_quantile"),
        F.col("rel_diff").alias("max_rel_shift"),
    )
    return abs_top.join(rel_top, "column_name")


def shape_change(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    skew_threshold: float = 0.5,
    kurt_threshold: float = 1.0,
) -> DataFrame:
    """Skewness/kurtosis drift + classification, one pass for both sides.

    Classification bands from ``distribution_analyzer.py:194-209``:
    |skew diff| > 0.5 → more_left/right_skewed; |kurt diff| > 1.0 →
    more/fewer_outliers. Null moments coalesce to 0 as in the reference.
    """
    pair = numeric_profile_pair(
        df_ref, df_curr, columns=columns, quantiles=(), with_shape=True
    )
    return shape_change_from_pair(pair, skew_threshold, kurt_threshold)


def shape_change_from_pair(
    pair: DataFrame,
    skew_threshold: float = 0.5,
    kurt_threshold: float = 1.0,
) -> DataFrame:
    """Shape change from a prebuilt pair profile carrying
    ``ref_/curr_skewness``/``kurtosis`` — same profile-reuse rationale as
    ``quantile_shift_from_pair``."""
    rs = F.coalesce(F.col("ref_skewness"), F.lit(0.0))
    cs = F.coalesce(F.col("curr_skewness"), F.lit(0.0))
    rk = F.coalesce(F.col("ref_kurtosis"), F.lit(0.0))
    ck = F.coalesce(F.col("curr_kurtosis"), F.lit(0.0))
    return pair.select(
        "column_name",
        rs.alias("ref_skewness"),
        cs.alias("curr_skewness"),
        F.abs(cs - rs).alias("skew_diff"),
        rk.alias("ref_kurtosis"),
        ck.alias("curr_kurtosis"),
        F.abs(ck - rk).alias("kurt_diff"),
        F.when(F.abs(cs - rs) <= skew_threshold, "none")
        .when(cs > rs, "more_right_skewed")
        .otherwise("more_left_skewed")
        .alias("skew_change"),
        F.when(F.abs(ck - rk) <= kurt_threshold, "none")
        .when(ck > rk, "more_outliers")
        .otherwise("fewer_outliers")
        .alias("kurt_change"),
    )


def rare_value_changes(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    rare_threshold: float = 0.01,
) -> DataFrame:
    """Per-value rare-state transitions (new-rare / disappeared-rare).

    Reference semantics (``distribution_analyzer.py:366-383``): frequency
    denominators include nulls (the null group is a category); 'new rare'
    requires the value to exist in ref (became rare, not newly appeared);
    'disappeared rare' requires it to exist in curr.
    """
    cells = pair_frequency_cells(df_ref, df_curr, columns)
    # per-column totals via groupBy + broadcast-join, NOT an unpartitioned
    # window: Window.partitionBy(column) buffers every category cell of a
    # column in one task — a cliff for high-cardinality categoricals
    totals = cells.groupBy("column_name").agg(
        F.sum("ref_cnt").alias("ref_total"), F.sum("curr_cnt").alias("curr_total")
    )
    rt = f"{float(rare_threshold)!r}D"
    enriched = cells.join(F.broadcast(totals), "column_name").selectExpr(
        "*",
        "ref_cnt / greatest(ref_total, 1) AS ref_freq",
        "curr_cnt / greatest(curr_total, 1) AS curr_freq",
        f"ref_cnt > 0 AND ref_cnt / greatest(ref_total, 1) <= {rt} AS ref_rare",
        f"curr_cnt > 0 AND curr_cnt / greatest(curr_total, 1) <= {rt} AS curr_rare",
    )
    return enriched.selectExpr(
        "column_name",
        "value",
        "CASE WHEN curr_rare AND NOT ref_rare AND ref_cnt > 0 THEN 'new_rare'"
        " WHEN ref_rare AND NOT curr_rare AND curr_cnt > 0 THEN 'disappeared_rare'"
        " END AS change_type",
        "ref_freq AS prev_freq",
        "curr_freq",
        "ref_cnt AS prev_count",
        "curr_cnt AS curr_count",
        "ref_rare",
        "curr_rare",
    )


def rare_value_summary(changes: DataFrame) -> DataFrame:
    """Per-column rare-count rollup (``distribution_analyzer.py:382-390``).

    Counts coalesce to 0: ``change_type`` is NULL for untransitioned values,
    and a sum over all-NULL flags would otherwise report "unknown" instead
    of "zero transitions".
    """

    def zsum(c):
        return F.coalesce(F.sum(c.cast("long")), F.lit(0))

    return changes.groupBy("column_name").agg(
        zsum(F.col("ref_rare")).alias("ref_rare_count"),
        zsum(F.col("curr_rare")).alias("curr_rare_count"),
        (zsum(F.col("curr_rare")) - zsum(F.col("ref_rare"))).alias("rare_count_change"),
        zsum(F.col("change_type") == "new_rare").alias("new_rare_count"),
        zsum(F.col("change_type") == "disappeared_rare").alias("disappeared_rare_count"),
    )


def edf_distances(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    ks_pvalue_terms: int = 20,
) -> DataFrame:
    """EXACT two-sample KS and Wasserstein-1 distances per numeric column.

    Both are functionals of the empirical CDFs, which come exactly from the
    per-value count histogram — no sampling, no sketches, no driver data:

    - ``ks = max |F_ref(v) − F_curr(v)|`` over distinct values;
    - ``wasserstein = ∫|F_ref − F_curr| = Σ |F_ref(v)−F_curr(v)|·gap(v)``
      over consecutive distinct values (exact for empirical measures);
    - ``ks_pvalue``: the asymptotic two-sample tail
      ``2·Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²}`` with
      ``λ = ks·√(n_r·n_c/(n_r+n_c))``, truncated at a FIXED term count so
      the SQL oracle replays the identical partial sum. For ``λ < 0.4``
      the alternating partial sums oscillate while the true limit is 1,
      so the standard small-λ guard returns 1.0 (Q(0.4) ≈ 0.9972).

    Plan: one side-tagged melt → ``groupBy(column, value)`` (map-side
    combine, shuffle O(distinct)) → **distributed two-phase prefix sum**
    (``bucketed_cumsum``: equi-depth range buckets + broadcast offsets +
    within-bucket windows) → tiny aggregate. The usual KS implementations
    either collect one side, sort-merge both per column, or run a
    per-column single-task window; here no task ever holds more than
    ~1/B of one column's distinct values, so the exact path survives
    continuous doubles at 100 TB. Beyond the reference's surface (it has
    no two-sample tests) — standard drift-detection capability.
    """
    from pyspark_data_drift_detector_spark.operators.cumulative import bucketed_cumsum

    tagged = df_ref.select(F.lit("r").alias("__side"), *columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *columns)
    )
    structs = ", ".join(
        f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS DOUBLE))"
        for c in columns
    )
    melted = tagged.selectExpr("__side", f"inline(array({structs}))").where(
        F.col("value").isNotNull()
    )
    cells = melted.groupBy("column_name", "value").agg(
        F.expr("sum(CAST(__side = 'r' AS BIGINT)) AS rc"),
        F.expr("sum(CAST(__side = 'c' AS BIGINT)) AS cc"),
    )
    enr = bucketed_cumsum(
        cells, "column_name", "value", ["rc", "cc"], lead_col="__next_value"
    ).withColumn("gap", F.col("__next_value") - F.col("value")).withColumn(
        "diff",
        F.abs(
            F.col("cum_rc") / F.greatest(F.col("tot_rc"), F.lit(1))
            - F.col("cum_cc") / F.greatest(F.col("tot_cc"), F.lit(1))
        ),
    )
    agg = enr.groupBy("column_name").agg(
        F.max("diff").alias("ks"),
        F.coalesce(F.sum(F.col("diff") * F.col("gap")), F.lit(0.0)).alias("wasserstein"),
        # Cramér–von Mises: T = nm/(n+m)² · Σ_pooled (F_r − F_c)² — the
        # EDF-difference sum weighted by the pooled count at each distinct
        # value; rides the same pass for free
        F.coalesce(
            F.sum((F.col("rc") + F.col("cc")) * F.col("diff") * F.col("diff")),
            F.lit(0.0),
        ).alias("__cvm_sum"),
        F.max("tot_rc").alias("n_ref"),
        F.max("tot_cc").alias("n_curr"),
    )
    lam = "(ks * sqrt(n_ref * n_curr / (n_ref + n_curr)))"
    series = " + ".join(
        f"{float((-1) ** (k - 1))!r}D * exp({-2.0 * k * k!r}D * {lam} * {lam})"
        for k in range(1, ks_pvalue_terms + 1)
    )
    return agg.selectExpr(
        "column_name",
        "ks",
        f"CASE WHEN {lam} < 0.4D THEN 1.0D"
        f" ELSE greatest(0.0D, least(1.0D, 2 * ({series}))) END AS ks_pvalue",
        "wasserstein",
        "__cvm_sum * n_ref * n_curr / power(n_ref + n_curr, 2) AS cvm",
        "CAST(n_ref AS BIGINT) AS n_ref",
        "CAST(n_curr AS BIGINT) AS n_curr",
    )


def _round_half_away(x: float, decimals: int = 9) -> float:
    """Round half away from zero — matching SQL ``ROUND`` (DuckDB, Spark),
    NOT Python's banker's ``round``. An edge exactly on a 5-at-last-digit
    boundary must round identically in both engines or boundary rows flip
    bins."""
    import math

    scale = 10.0**decimals
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def _psi_wide(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    bins: int,
    quantile_mode: str,
) -> tuple[DataFrame, dict]:
    """Shared front of the numeric-PSI family: reference-quantile bin
    edges (collected, O(columns×bins) — the outlier-operator driver
    pattern) and the ONE side-tagged wide aggregate holding every
    (side, column, bin) count. ``psi_numeric`` sums it into per-column
    PSI; ``psi_numeric_cells`` melts it into the per-bin drill-down."""
    from pyspark_data_drift_detector_spark.operators.profile import _qname, numeric_profile

    probs = [i / bins for i in range(1, bins)]
    prof = numeric_profile(
        df_ref,
        columns,
        quantiles=tuple(probs),
        with_shape=False,
        quantile_mode=quantile_mode,
    )
    edge_rows = {r["column_name"]: r for r in prof.collect()}
    # edges round to 9 decimals (half away from zero, matching SQL ROUND):
    # interpolated quantiles can differ by an ulp between engines, and an
    # edge that lands exactly ON a data value must compare identically
    # everywhere or boundary rows flip bins
    edges = {
        c: [
            None
            if edge_rows[c][_qname(p)] is None
            else _round_half_away(edge_rows[c][_qname(p)], 9)
            for p in probs
        ]
        for c in columns
        if c in edge_rows
    }
    # a column that is all-NULL on the reference side has no quantile
    # edges at all — drop it (no PSI is definable) instead of emitting
    # an empty bin expression that fails to parse
    edges = {c: es for c, es in edges.items() if any(e is not None for e in es)}

    tagged = df_ref.select(F.lit("r").alias("__side"), *columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *columns)
    )
    # SQL-string assembly — see the profile module docstring (12.9k
    # bridge calls ≈ 5.6s of driver time for 4 columns before)
    aggs: list[str] = []
    for c, es in edges.items():
        v = f"CAST(`{c}` AS DOUBLE)"
        bin_expr = " + ".join(
            f"CAST({v} > {float(e)!r}D AS INT)" for e in es if e is not None
        )
        for pre, tag in (("ref", "'r'"), ("curr", "'c'")):
            cond = f"__side = {tag} AND {v} IS NOT NULL"
            aggs.append(f"sum(CAST(({cond}) AS BIGINT)) AS `__{pre}__{c}__n`")
            for b in range(bins):
                aggs.append(
                    f"sum(CAST(({cond} AND ({bin_expr}) = {b}) AS BIGINT))"
                    f" AS `__{pre}__{c}__b{b}`"
                )
    return tagged.selectExpr(*aggs), edges


def psi_numeric_cells(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    bins: int = 10,
    epsilon: float = 1e-4,
    quantile_mode: str = "exact",
) -> DataFrame:
    """Per-bin drill-down of :func:`psi_numeric` — WHICH quantile band
    drives a hot PSI, the numeric twin of
    ``categorical_drift.chi2_cell_residuals``: one row per (column, bin)
    with both sides' counts, ε-clamped frequencies, the signed
    ``psi_term``, and the bin's reference-quantile edges (``lo_edge``
    NULL for the first bin, ``hi_edge`` NULL for the last). Same two
    jobs as ``psi_numeric`` (edge collect + one side-tagged wide
    aggregate); only the melt differs.
    """
    wide, edges = _psi_wide(df_ref, df_curr, columns, bins, quantile_mode)
    if not edges:  # every requested column all-NULL on ref — no PSI definable
        return df_ref.sparkSession.createDataFrame(
            [],
            "column_name string, bin long, lo_edge double, hi_edge double,"
            " ref_n long, curr_n long, ref_freq double, curr_freq double,"
            " psi_term double",
        )
    eps = f"{float(epsilon)!r}D"
    structs = []
    for c, es in edges.items():
        es_clean = [float(e) for e in es if e is not None]
        for b in range(bins):
            p = f"greatest(`__ref__{c}__b{b}` / greatest(`__ref__{c}__n`, 1), {eps})"
            q = f"greatest(`__curr__{c}__b{b}` / greatest(`__curr__{c}__n`, 1), {eps})"
            lo = "CAST(NULL AS DOUBLE)" if b == 0 or b - 1 >= len(es_clean) \
                else f"{es_clean[b - 1]!r}D"
            hi = "CAST(NULL AS DOUBLE)" if b >= len(es_clean) \
                else f"{es_clean[b]!r}D"
            structs.append(
                f"named_struct('column_name', '{c}', 'bin', CAST({b} AS BIGINT),"
                f" 'lo_edge', {lo}, 'hi_edge', {hi},"
                f" 'ref_n', `__ref__{c}__b{b}`, 'curr_n', `__curr__{c}__b{b}`,"
                f" 'ref_freq', {p}, 'curr_freq', {q},"
                f" 'psi_term', (({q}) - ({p})) * ln(({q}) / ({p})))"
            )
    return wide.selectExpr("inline(array(" + ", ".join(structs) + "))")


def psi_numeric(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    bins: int = 10,
    epsilon: float = 1e-4,
    quantile_mode: str = "exact",
) -> DataFrame:
    """PSI for numeric columns over reference-quantile bins.

    The standard model-monitoring recipe: bin edges are the REFERENCE
    side's ``1/bins … (bins−1)/bins`` quantiles (so ref mass is ~uniform
    per bin), both sides are counted into those fixed bins, and
    ``PSI = Σ (q−p)·ln(q/p)`` with ε-clamped empty bins. Two jobs: one
    aggregate for the O(columns×bins) edge table (collected — same driver
    O(columns) pattern as the outlier operators), one side-tagged pass for
    all bin counts of all columns. Bin membership is ``Σ (v > edge)`` —
    identical arithmetic in the SQL oracle.
    """
    wide, edges = _psi_wide(df_ref, df_curr, columns, bins, quantile_mode)
    if not edges:  # every requested column all-NULL on ref — no PSI definable
        return df_ref.sparkSession.createDataFrame(
            [], "column_name string, psi double, stability string"
        )
    eps = f"{float(epsilon)!r}D"
    structs = []
    for c in edges:
        terms = []
        for b in range(bins):
            p = f"greatest(`__ref__{c}__b{b}` / greatest(`__ref__{c}__n`, 1), {eps})"
            q = f"greatest(`__curr__{c}__b{b}` / greatest(`__curr__{c}__n`, 1), {eps})"
            terms.append(f"(({q}) - ({p})) * ln(({q}) / ({p}))")
        structs.append(
            f"named_struct('column_name', '{c}', 'psi', {' + '.join(terms)})"
        )
    return wide.selectExpr("inline(array(" + ", ".join(structs) + "))").selectExpr(
        "*",
        "CASE WHEN psi < 0.1D THEN 'stable' WHEN psi < 0.25D THEN 'moderate_shift'"
        " ELSE 'significant_shift' END AS stability",
    )


def histogram(
    df: DataFrame,
    columns: list[str],
    bins: int = 10,
) -> DataFrame:
    """Equi-width histogram for all columns in one pass, no RDD.

    Matches ``rdd.histogram(bins)`` semantics: buckets span [min, max],
    the last bucket is closed on both ends. Output:
    ``column_name, bucket, lower, upper, cnt``.
    """
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in columns
                ]
            )
        ).alias("kv")
    ).select("kv.*").filter(F.col("v").isNotNull())

    bounds = melted.groupBy("column_name").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / bins
    bucketed = (
        melted.join(F.broadcast(bounds), "column_name")
        .withColumn(
            "bucket",
            F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
                F.least(
                    F.floor((F.col("v") - F.col("mn")) / width), F.lit(bins - 1)
                )
            ).cast("int"),
        )
    )
    return (
        bucketed.groupBy("column_name", "bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.first(F.col("mn")).alias("col_min"),
            F.first(F.col("mx")).alias("col_max"),
        )
        .select(
            "column_name",
            "bucket",
            (F.col("col_min") + F.col("bucket") * (F.col("col_max") - F.col("col_min")) / bins).alias("lower"),
            (F.col("col_min") + (F.col("bucket") + 1) * (F.col("col_max") - F.col("col_min")) / bins).alias("upper"),
            "cnt",
        )
    )


@owned_result
def equidepth_histogram(
    df: DataFrame,
    columns: list[str],
    bins: int = 10,
    quantile_mode: str = "exact",
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram for all columns in one
    logical plan: bin edges are the exact ``i/bins`` percentiles, so each
    bin holds ≈``1/bins`` of the rows regardless of the value
    distribution — the binning that stays informative on heavy-tailed
    columns where equi-width ``histogram`` collapses into one hot bucket.

    Assignment: a value lands in the count of INTERIOR boundaries it
    strictly exceeds (ties go left), so massive tie groups — the reason
    equi-depth bins are unequal in practice — land deterministically in
    one bin. Empty bins (possible when a tie group spans several
    percentile edges) emit no row.

    Shape: one exact-percentile aggregate per column (each buffers its
    own column once — the array form, not per-percentile scalars), the
    1-row edge table broadcast back over a melt, then a
    ``groupBy(column, bin)`` count whose key includes the bin — no
    single-task sort of a column. Output: ``column_name, bin, lo, hi,
    cnt`` with ``lo/hi`` the bin's percentile edges.

    ``quantile_mode`` selects the edge-pass engine
    (``profile._quantile_row``): ``"exact"`` (default, the oracle
    contract — the NumPy gather), ``"counts"`` (exact edges from the value
    histogram, state bounded by distinct values — the 100 TB path), or
    ``"approx"`` (``percentile_approx`` edges, bounded rank error). The
    binning pass is identical in every mode.

    In counts mode the value-histogram cells are kept (reused for edges
    AND bin counts) for the enclosing owned run; a call outside one gets
    its O(columns × bins)-row result as a local relation and leaves
    nothing cached.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )
    from pyspark_data_drift_detector_spark.operators.profile import _quantile_row

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns)
    probs = [i / bins for i in range(bins + 1)]
    if quantile_mode == "counts":
        # ONE raw scan total: the value histogram yields the edges AND
        # the bin counts (a bin's count is the sum of cell counts in its
        # edge range) — the raw table is never re-scanned for binning
        from pyspark_data_drift_detector_spark.operators.profile import (
            _quantile_cells,
            _quantiles_from_cells,
        )

        cells = keep(_quantile_cells(df, columns))
        per_col = _quantiles_from_cells(cells, probs).selectExpr("column_name", "q AS edges")
        binned = (
            cells.join(F.broadcast(per_col), "column_name")
            .selectExpr(
                "column_name",
                "edges",
                "__cnt",
                f"CAST(size(filter(slice(edges, 2, {bins - 1}),"
                " b -> value > b)) AS INT) AS bin",
            )
        )
        return (
            binned.groupBy("column_name", "bin")
            .agg(
                F.expr("CAST(sum(__cnt) AS BIGINT) AS cnt"),
                F.expr("first(edges) AS edges"),
            )
            .selectExpr(
                "column_name",
                "bin",
                "edges[bin] AS lo",
                "edges[bin + 1] AS hi",
                "cnt",
            )
        )
    edges = _quantile_row(
        df, [(f"__e{i}", c, None, None) for i, c in enumerate(columns)], probs, quantile_mode
    )
    # bin assignment unrolled to (bins-1) scalar comparisons against the
    # broadcast edge array's elements: the same monotone count of
    # interior boundaries strictly exceeded (bit-identical bins), but
    # pure whole-stage codegen — the previous per-row
    # size(filter(slice(edges, ...))) evaluated an interpreted
    # higher-order lambda AND copied the edge array into every melted
    # struct (measured ~2.3s of the 3s query at sf0.1; the edge gather
    # itself is 0.7s). Edges re-attach to the O(columns × bins) counts
    # AFTER the aggregate via a tiny broadcast join.
    def _bin_expr(c: str, i: int) -> str:
        comps = " + ".join(
            f"(CASE WHEN CAST(`{c}` AS DOUBLE) > __e{i}[{j}] THEN 1 ELSE 0 END)"
            for j in range(1, bins)
        )
        return f"CASE WHEN `{c}` IS NOT NULL THEN CAST({comps} AS INT) END"

    melt = ", ".join(
        f"named_struct('column_name', '{c}', 'bin', {_bin_expr(c, i)})"
        for i, c in enumerate(columns)
    )
    edge_rows = edges.selectExpr(
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'edges', __e{i})"
            for i, c in enumerate(columns)
        )
        + "))"
    )
    binned = (
        df.join(F.broadcast(edges))
        .selectExpr(f"inline(array({melt}))")
        .where("bin IS NOT NULL")
    )
    return (
        binned.groupBy("column_name", "bin")
        .agg(F.expr("count(1) AS cnt"))
        .join(F.broadcast(edge_rows), "column_name")
        .selectExpr(
            "column_name",
            "bin",
            "edges[bin] AS lo",
            "edges[bin + 1] AS hi",
            "cnt",
        )
    )


#: first significant digit of a double column (NULL for 0/NaN/Inf) —
#: see the extraction notes in ``benford_deviation``; factored out so the
#: ground-truth test exercises exactly the production expression
FIRST_DIGIT_SQL = (
    "try_cast(nullif(regexp_extract(CAST({v} AS STRING), '[1-9]', 0), '')"
    " AS INT)"
)


def benford_deviation(
    df: DataFrame,
    columns: list[str],
) -> DataFrame:
    """First-significant-digit (Benford's-law) deviation per column — the
    classic fabricated-/corrupted-feed tripwire: naturally-occurring
    multiplicative quantities (prices, populations, transaction sizes)
    put digit d first with probability ``log10(1 + 1/d)``; truncation
    bugs, unit mix-ups, and synthetic fills show up as a first-digit
    distribution nowhere near that curve.

    The first digit is the first nonzero digit character of the value's
    round-trip string form (``regexp_extract(CAST(v AS STRING),
    '[1-9]')``) — deterministic at every finite magnitude, with no
    ``log10`` last-ulp hazards and no integer-cast saturation (the
    previous ``floor(|x|·1e5) → BIGINT`` path saturated at |x| ≈ 9.2e13
    and reported digit 9 for every larger value). Verified against the
    exact decimal expansion (``Decimal(v)`` ground truth) on random
    mantissas across 10^±200 and against DuckDB's shortest rendering on
    every ±1-ulp decade-boundary probe for 10^k, k ∈ [−300, 300]: the
    one observed divergence in 603 probes is the double nearest 1e23
    (its shortest rendering "1e+23" legitimately crosses the decade —
    the boundary sits inside the half-ulp — while Java 17 renders the
    exact-expansion digit 9; a dataset containing exactly that family
    shifts one digit count by one vs the DuckDB oracle). Zeros, NaN,
    and ±Infinity have no first digit and are counted in
    ``n_skipped``.

    ONE scan (``inline`` melt) + one ``groupBy(column, digit)`` + a tiny
    per-column rollup.  Output per column: ``n, n_skipped, tvd`` (total
    variation distance from Benford), ``max_dev`` (the auditor's "MAD"
    statistic is ``sum_dev/9``; max is stricter), ``chi2_stat``.

    The per-``(column, digit)`` counts are ADDITIVE state:
    :func:`benford_digit_state` / :func:`benford_from_state` split the
    two halves so a streaming ingest can append micro-batch states
    (``streaming.state_tables.benford_state_sink``) and roll the full
    history up with no event replay — batch-identical by construction.
    """
    return benford_from_state(benford_digit_state(df, columns))


def benford_digit_state(
    df: DataFrame, columns: list[str], side_col: str | None = None
) -> DataFrame:
    """The additive half of :func:`benford_deviation`: one row per
    ``(column_name, digit)`` with ``cnt`` and the digit-less row count
    ``n_skipped`` — counts merge across appends by summation.
    ``side_col`` threads a tag column through the melt (for the
    side-tagged pair shape — both snapshots' states from ONE scan)."""
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns(columns + ([side_col] if side_col else []))
    extra = [f"`{side_col}`"] if side_col else []
    keys = ([side_col] if side_col else []) + ["column_name"]
    cells = ", ".join(
        f"named_struct('column_name', '{c}', 'v', abs(CAST(`{c}` AS DOUBLE)))"
        for c in columns
    )
    return (
        df.selectExpr(*extra, f"inline(array({cells}))")
        .selectExpr(
            *extra,
            "column_name",
            "v",
            f"{FIRST_DIGIT_SQL.format(v='v')} AS digit",
        )
        .selectExpr(
            *extra,
            "column_name",
            "digit",
            "CAST(v IS NOT NULL AND digit IS NULL AS INT) AS skipped",
        )
        .groupBy(*keys, "digit")
        .agg(
            F.expr("count(digit) AS cnt"),
            F.expr("CAST(sum(skipped) AS BIGINT) AS n_skipped"),
        )
    )


def _benford_metric_sqls(n: str, c_fmt: str) -> tuple[str, str, str]:
    """(tvd, max_dev, chi2) SQL fragments over digit-count columns named
    by ``c_fmt.format(d=d)`` with total ``n`` — shared by the single-
    frame rollup and the side-tagged pair."""
    import math

    expected = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    tvd, mx, chi2 = [], [], []
    for d, p in expected.items():
        obs = f"(CAST({c_fmt.format(d=d)} AS DOUBLE) / greatest({n}, 1))"
        tvd.append(f"abs({obs} - {p!r}D)")
        mx.append(f"abs({obs} - {p!r}D)")
        chi2.append(
            f"(CASE WHEN {n} > 0 THEN {n} * ({obs} - {p!r}D) * ({obs} - {p!r}D)"
            f" / {p!r}D ELSE 0.0D END)"
        )
    return (
        f"({' + '.join(tvd)}) / 2",
        f"greatest({', '.join(mx)})",
        " + ".join(chi2),
    )


def benford_deviation_pair(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Both sides' Benford panels from ONE side-tagged scan (the
    engine's pair convention — no second melt of the raw data). Output
    per column: ``ref_n, ref_n_skipped, ref_tvd, ref_max_dev,
    ref_chi2`` and the ``curr_`` twins. A side with ZERO extractable
    digits reports NULL tvd/max_dev/chi2 — "no first-digit data" must
    not read as maximal deviation (with n = 0 the raw formula
    degenerates to tvd = 0.5)."""
    tagged = df_ref.selectExpr("'r' AS __side", *[f"`{c}`" for c in columns]).unionByName(
        df_curr.selectExpr("'c' AS __side", *[f"`{c}`" for c in columns])
    )
    state = benford_digit_state(tagged, columns, side_col="__side")
    aggs, outs = [], ["column_name"]
    for pre, tag in (("ref", "r"), ("curr", "c")):
        cond = f"__side = '{tag}'"
        aggs.append(
            f"CAST(sum(CASE WHEN {cond} THEN cnt ELSE 0 END) AS BIGINT)"
            f" AS __{pre}_n"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {cond} THEN n_skipped ELSE 0 END) AS BIGINT)"
            f" AS __{pre}_skip"
        )
        for d in range(1, 10):
            aggs.append(
                f"sum(CASE WHEN {cond} AND digit = {d} THEN cnt ELSE 0 END)"
                f" AS __{pre}_c{d}"
            )
        tvd, mx, chi2 = _benford_metric_sqls(
            f"__{pre}_n", f"__{pre}_c{{d}}"
        )
        outs += [
            f"__{pre}_n AS {pre}_n",
            f"__{pre}_skip AS {pre}_n_skipped",
            f"CASE WHEN __{pre}_n > 0 THEN {tvd} END AS {pre}_tvd",
            f"CASE WHEN __{pre}_n > 0 THEN {mx} END AS {pre}_max_dev",
            f"CASE WHEN __{pre}_n > 0 THEN {chi2} END AS {pre}_chi2",
        ]
    return (
        state.groupBy("column_name")
        .agg(*[F.expr(a) for a in aggs])
        .selectExpr(*outs)
    )


def benford_from_state(digits: DataFrame) -> DataFrame:
    """Benford rollup over :func:`benford_digit_state` rows. Several
    state rows per ``(column, digit)`` (one per appended micro-batch)
    merge exactly — every aggregate below is a sum."""
    tvd, mx, chi2 = _benford_metric_sqls("n", "__c{d}")
    return (
        digits.groupBy("column_name")
        .agg(
            F.expr("CAST(sum(cnt) AS BIGINT) AS n"),
            F.expr("CAST(sum(n_skipped) AS BIGINT) AS n_skipped"),
            *[
                F.expr(f"sum(CASE WHEN digit = {d} THEN cnt ELSE 0 END) AS __c{d}")
                for d in range(1, 10)
            ],
        )
        .selectExpr(
            "column_name",
            "n",
            "n_skipped",
            f"{tvd} AS tvd",
            f"{mx} AS max_dev",
            f"{chi2} AS chi2_stat",
        )
    )
