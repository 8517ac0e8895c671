"""Drift-detection pipeline: the reference's fixed "query", Spark-first.

Entry point semantics follow the reference's canonical orchestrator
(``data_drift_detector.py:423-446`` → ``detect_drift``), but the execution
shape is SURVEY §7.1's: a constant number of Spark jobs per analyzer family
(wide profile aggregates + profile joins), instead of the reference's
O(jobs-per-column) driver loop (~50 collect() sites, SURVEY §3).

Canonical output is the long-format result table
(``result_handler.py:14-21`` schema): one row per (column, dimension) with
``run_timestamp, column_name, column_type, dimension_id, drift_score,
drift_severity, drift_detected, metrics`` (metrics = JSON string, built
distributed via ``to_json(struct(...))``). The nested-dict report derives
from it.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.config import DriftConfig
from pyspark_data_drift_detector_spark.functions.inference import columns_by_type, infer_column_types
from pyspark_data_drift_detector_spark.functions.lifetime import collect_local, keep, owned_run
from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift

RESULT_COLUMNS = [
    "run_timestamp",
    "column_name",
    "column_type",
    "dimension_id",
    "drift_score",
    "drift_severity",
    "drift_detected",
    "drift_causes",
    "metrics",
]


def _to_result_rows(drift_df: DataFrame, column_type: str, dimension_id: str = "all") -> DataFrame:
    metric_cols = [
        c
        for c in drift_df.columns
        if c not in {"column_name", "drift_score", "drift_severity", "drift_detected", "drift_causes"}
    ]
    struct = ", ".join(f"`{c}`" for c in metric_cols)
    return drift_df.selectExpr(
        "current_timestamp() AS run_timestamp",
        "column_name",
        f"'{column_type}' AS column_type",
        f"'{dimension_id}' AS dimension_id",
        "CAST(drift_score AS DOUBLE) AS drift_score",
        "drift_severity",
        "drift_detected",
        "drift_causes",
        f"to_json(struct({struct})) AS metrics",
    )


@owned_run()
def detect_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    config: DriftConfig | dict[str, Any] | None = None,
) -> DataFrame:
    """Run the drift-detection pipeline, returning the long result DataFrame.

    Every Spark job runs inside this call, in the caller's job group and
    tags; the result is a local relation of O(columns) rows, and nothing
    the call cached is left behind (``functions.lifetime``).
    """
    cfg = config if isinstance(config, DriftConfig) else DriftConfig(config or {})

    # JSON payload columns analyze like physical columns: extract the typed
    # fields up front on BOTH sides (cfg["json_fields"] = {json_col:
    # {field: spark_type}} — or {json_col: None} to infer from a ref
    # sample). The extracted columns flow through inference and every
    # analyzer family; the raw JSON string column is excluded.
    json_cfg = cfg.get("json_fields") or {}
    json_extracted: list[str] = []
    if json_cfg:
        from pyspark_data_drift_detector_spark.operators.semistructured import (
            infer_json_fields,
            json_fields,
        )

        for jcol, fields in json_cfg.items():
            if fields is None:
                fields = infer_json_fields(df_ref, jcol)
            if not fields:
                continue
            df_ref = json_fields(df_ref, jcol, fields)
            df_curr = json_fields(df_curr, jcol, fields)
            json_extracted += [n.replace(".", "_") for n in fields]

    include = set(cfg.get("include_columns") or [])
    exclude = set(cfg.get("exclude_columns") or []) | set(json_cfg)
    common = [c for c in df_ref.columns if c in set(df_curr.columns)]
    if include:
        common = [c for c in common if c in include or c in json_extracted]
    common = [c for c in common if c not in exclude]

    # the analyzer families interpolate these names into SQL-string plans —
    # reject names that could escape a quoting context (functions.quoting)
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns(common, where="analyzed column names")

    types = infer_column_types(
        df_ref.select(*common), custom_column_types=cfg.get("custom_column_types")
    )
    by_type = columns_by_type(types)

    results: list[DataFrame] = []

    num_th = dict(cfg.numerical_thresholds)
    cat_th = dict(cfg.categorical_thresholds)
    if cfg.get("adaptive_thresholds", False):
        # main.py:74-91 — size-banded threshold scaling: lenient under 1k
        # rows (×1.5 on mean/std and the categorical distribution check),
        # strict over 10M (×0.7). Two count jobs, exactly the reference's
        # cost; off by default.
        max_count = max(df_ref.count(), df_curr.count())
        scale = 1.5 if max_count < 1_000 else (0.7 if max_count > 10_000_000 else None)
        if scale is not None:
            num_th["mean_threshold"] = num_th.get("mean_threshold", 0.05) * scale
            num_th["std_threshold"] = num_th.get("std_threshold", 0.1) * scale
            cat_th["category_threshold"] = cat_th.get("category_threshold", 0.03) * scale

    # Very wide tables must not produce one pathological aggregate: each
    # profiled column contributes ~13 aggregation buffer fields, and past
    # spark.sql.codegen.maxFields the whole aggregate silently leaves
    # whole-stage codegen. Batches of 100 keep every plan in the fast path
    # (the reference batches for driver-memory reasons, main.py:96-120 —
    # same knob, different failure mode).
    batch_size = max(1, int(cfg.get("column_batch_size", 100)))

    def _batched(cols: list[str]):
        return [cols[i : i + batch_size] for i in range(0, len(cols), batch_size)]

    num_cols = by_type.get("numerical", [])
    # One profile aggregate serves THREE families: the scored numeric-drift
    # rows here, and (when the distribution family runs) the quantile-shift
    # and shape-change rows — with_shape rides along in the same aggregate
    # and the O(columns) pair table is persisted, so the second and third
    # consumers read the cached rows instead of re-scanning both snapshots.
    # (The reference re-runs approxQuantile/agg per family.)
    run_distributions = bool(cfg.get("analyze_distributions", True)) and bool(
        cfg.thresholds.get("analyze_distributions", True)
    )
    shared_pairs: list[DataFrame] = []
    num_quantiles = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
    for batch in _batched(num_cols):
        from pyspark_data_drift_detector_spark.operators.numeric_drift import (
            numeric_drift_from_joined,
        )
        from pyspark_data_drift_detector_spark.operators.profile import (
            numeric_profile_pair,
        )

        pair = keep(numeric_profile_pair(
            df_ref,
            df_curr,
            columns=batch,
            quantiles=num_quantiles,
            quantile_accuracy=int(cfg.get("quantile_accuracy", 10000)),
            quantile_mode=str(cfg.get("quantile_mode", "approx")),
            with_shape=run_distributions,
        ))
        shared_pairs.append(pair)
        nd = numeric_drift_from_joined(
            pair,
            thresholds=num_th,
            score_mode=str(cfg.get("numeric_score_mode", "weighted")),
        )
        # shape moments ride along for the distribution family but are not
        # part of the reference's numerical metrics dict
        nd = nd.drop(*[c for c in nd.columns if c.endswith(("skewness", "kurtosis"))])
        results.append(_to_result_rows(nd, "numerical"))

    cat_cols = by_type.get("categorical", [])
    for batch in _batched(cat_cols):
        results.append(
            _to_result_rows(
                categorical_drift(
                    df_ref,
                    df_curr,
                    batch,
                    thresholds=cat_th,
                    top_k=int(cfg.get("categorical_top_k", 20)),
                ),
                "categorical",
            )
        )

    tmp_cols = by_type.get("temporal", [])
    if cfg.get("analyze_temporal", True) and tmp_cols:
        # The reference classifies temporal columns and then silently drops
        # them from every family (its architecture doc promises a Temporal
        # analyzer that does not exist — SURVEY §1.1). This is that cell:
        # mean-time shift, range change, day-of-week JS, null drift.
        from pyspark_data_drift_detector_spark.operators.temporal import temporal_drift

        td = temporal_drift(
            df_ref,
            df_curr,
            tmp_cols,
            mean_shift_days_threshold=float(cfg.get("temporal_mean_shift_days", 7.0)),
            js_threshold=float(cfg.thresholds.get("js_distance_threshold", 0.1)),
            null_threshold=float(num_th.get("null_threshold", 0.01)),
        )
        # binary-significance family (like distribution/feature_importance):
        # score 0, detection carried by causes
        td = td.select(
            "column_name",
            F.lit(0.0).alias("drift_score"),
            F.lit("None").alias("drift_severity"),
            *[c for c in td.columns if c != "column_name"],
        )
        results.append(_to_result_rows(td, "temporal"))

    # DistributionAnalyzer family is DOUBLE-gated exactly like the reference:
    # the top-level config flag turns the family on/off
    # (data_drift_detector.py:117), and the PROFILE's thresholds flag gates
    # the sub-analyses (distribution_analyzer.py:42,65 reads
    # thresholds[profile].analyze_distributions) — so profile="summary"
    # (analyze_distributions=False, config_generator.py:59) produces NO
    # distribution rows even with the top-level flag on.
    profile_distributions = bool(cfg.thresholds.get("analyze_distributions", True))
    if (
        cfg.get("analyze_distributions", True)
        and profile_distributions
        and (num_cols or cat_cols)
    ):
        # numeric significance = shape change (skew/kurt band crossing);
        # categorical significance = FULL-support JS > js_distance_threshold
        # (distribution_analyzer.py:302 — note the distribution analyzer's JS
        # runs over ALL categories, unlike the top-k categorical analyzer).
        # The reference reports distribution drift as BINARY (it feeds
        # drift_summary counts, never a scalar score), so drift_score is 0
        # and ranking is unaffected — only drift_detected/causes carry signal.
        dist_rows: list[DataFrame] = []
        if num_cols:
            from pyspark_data_drift_detector_spark.operators.distribution import (
                max_quantile_shift,
                quantile_shift_from_pair,
                shape_change_from_pair,
            )

            # both numeric sub-analyses derive from the SAME persisted pair
            # profiles the numerical family already materialized — zero
            # additional snapshot scans (see the shared_pairs note above)
            pair_all = shared_pairs[0]
            for extra in shared_pairs[1:]:
                pair_all = pair_all.unionByName(extra)

            # quantile shifts (distribution_analyzer.py:83-151): metrics-only
            # rows — the reference computes them without a significance flag
            qs = max_quantile_shift(quantile_shift_from_pair(pair_all, num_quantiles))
            dist_rows.append(
                qs.select(
                    "column_name",
                    F.lit(0.0).alias("drift_score"),
                    F.lit("None").alias("drift_severity"),
                    F.lit(False).alias("drift_detected"),
                    F.array().cast("array<string>").alias("drift_causes"),
                    "max_abs_shift_quantile",
                    "max_abs_shift",
                    "max_rel_shift_quantile",
                    "max_rel_shift",
                )
            )

            sc_df = shape_change_from_pair(pair_all)
            detected = (F.col("skew_change") != "none") | (F.col("kurt_change") != "none")
            dist_rows.append(
                sc_df.select(
                    "column_name",
                    F.lit(0.0).alias("drift_score"),
                    F.lit("None").alias("drift_severity"),
                    detected.alias("drift_detected"),
                    F.array_compact(
                        F.array(
                            F.when(F.col("skew_change") != "none", F.col("skew_change")),
                            F.when(F.col("kurt_change") != "none", F.col("kurt_change")),
                        )
                    ).alias("drift_causes"),
                    "skew_diff",
                    "kurt_diff",
                    "skew_change",
                    "kurt_change",
                )
            )
            if cfg.thresholds.get("gen_distribution_summaries", False):
                # deep_dive only (config_generator.py:101): 10-bin histogram
                # summaries per side. The reference drops to
                # rdd.histogram(10) per column per side
                # (distribution_analyzer.py:440-449); here ONE DataFrame-
                # native bucketing pass per side covers all columns.
                from pyspark_data_drift_detector_spark.operators.distribution import (
                    histogram,
                )

                def _hist_summary(df: DataFrame, side: str) -> DataFrame:
                    return (
                        histogram(df, num_cols, bins=10)
                        .groupBy("column_name")
                        .agg(
                            F.sort_array(
                                F.collect_list(
                                    F.struct("bucket", "lower", "upper", "cnt")
                                )
                            ).alias(f"{side}_histogram")
                        )
                    )

                hsum = _hist_summary(df_ref, "ref").join(
                    _hist_summary(df_curr, "curr"), "column_name", "full"
                )
                dist_rows.append(
                    hsum.select(
                        "column_name",
                        F.lit(0.0).alias("drift_score"),
                        F.lit("None").alias("drift_severity"),
                        F.lit(False).alias("drift_detected"),
                        F.array().cast("array<string>").alias("drift_causes"),
                        "ref_histogram",
                        "curr_histogram",
                    )
                )
        if cat_cols:
            js_th = float(cfg.thresholds.get("js_distance_threshold", 0.1))
            full_js = categorical_drift(df_ref, df_curr, cat_cols, top_k=None).select(
                "column_name", "js_distance"
            )
            dist_rows.append(
                full_js.select(
                    "column_name",
                    F.lit(0.0).alias("drift_score"),
                    F.lit("None").alias("drift_severity"),
                    (F.col("js_distance") > js_th).alias("drift_detected"),
                    F.array_compact(
                        F.array(F.when(F.col("js_distance") > js_th, F.lit("js_distribution_shift")))
                    ).alias("drift_causes"),
                    "js_distance",
                )
            )
        if cat_cols and cfg.thresholds.get("detect_rare_values", False):
            # distribution_analyzer.py:74-80 — per-column rare-state rollup,
            # reported (no drift flag: the reference stores it without
            # feeding drift_detected)
            from pyspark_data_drift_detector_spark.operators.distribution import (
                rare_value_changes,
                rare_value_summary,
            )

            rs = rare_value_summary(
                rare_value_changes(
                    df_ref,
                    df_curr,
                    cat_cols,
                    rare_threshold=float(cfg.thresholds.get("rare_value_threshold", 0.01)),
                )
            )
            dist_rows.append(
                rs.select(
                    "column_name",
                    F.lit(0.0).alias("drift_score"),
                    F.lit("None").alias("drift_severity"),
                    F.lit(False).alias("drift_detected"),
                    F.array().cast("array<string>").alias("drift_causes"),
                    "ref_rare_count",
                    "curr_rare_count",
                    "rare_count_change",
                    "new_rare_count",
                    "disappeared_rare_count",
                )
            )
        for dr in dist_rows:
            results.append(_to_result_rows(dr, "distribution"))

    if cfg.get("analyze_correlations", True) and len(num_cols) >= 2:
        from pyspark_data_drift_detector_spark.operators.correlation import (
            correlation_pairs,
            correlation_shifts,
        )

        shifts = correlation_shifts(
            correlation_pairs(df_ref, df_curr, num_cols),
            change_threshold=float(cfg.thresholds.get("correlation_change_threshold", 0.2)),
            strong_threshold=float(cfg.thresholds.get("correlation_threshold", 0.7)),
        )
        corr_rows = shifts.select(
            F.concat_ws("~", F.col("col1"), F.col("col2")).alias("column_name"),
            F.least(F.lit(1.0), F.col("abs_change")).alias("drift_score"),
            (
                F.col("significant_shift")
                | F.col("new_strong_correlation")
                | F.col("disappeared_strong_correlation")
            ).alias("drift_detected"),
            F.array_compact(
                F.array(
                    F.when(F.col("significant_shift"), F.lit("correlation_shift")),
                    F.when(F.col("new_strong_correlation"), F.lit("new_strong_correlation")),
                    F.when(
                        F.col("disappeared_strong_correlation"),
                        F.lit("disappeared_strong_correlation"),
                    ),
                )
            ).alias("drift_causes"),
            "ref_correlation",
            "curr_correlation",
            "abs_change",
        )
        from pyspark_data_drift_detector_spark.operators.numeric_drift import severity_expr

        corr_rows = corr_rows.withColumn("drift_severity", severity_expr(F.col("drift_score")))
        results.append(_to_result_rows(corr_rows, "correlation"))

    if cfg.get("statistical_tests", False) and num_cols:
        # Beyond the reference's families (opt-in): exact two-sample KS +
        # Wasserstein-1 and reference-decile PSI per numeric column —
        # detection = KS test at alpha=0.05 or PSI ≥ 0.25 (the standard
        # monitoring bands). Scored by PSI severity so these rows rank.
        from pyspark_data_drift_detector_spark.operators.distribution import (
            edf_distances,
            psi_numeric,
        )
        from pyspark_data_drift_detector_spark.operators.numeric_drift import severity_expr

        stats = edf_distances(df_ref, df_curr, num_cols).join(
            psi_numeric(
                df_ref,
                df_curr,
                num_cols,
                quantile_mode=str(cfg.get("quantile_mode", "approx")),
            ).select("column_name", "psi", "stability"),
            "column_name",
        )
        detected = (F.col("ks_pvalue") < 0.05) | (F.col("psi") >= 0.25)
        st_rows = stats.select(
            "column_name",
            F.least(F.lit(1.0), F.col("psi")).alias("drift_score"),
            severity_expr(F.least(F.lit(1.0), F.col("psi"))).alias("drift_severity"),
            detected.alias("drift_detected"),
            F.array_compact(
                F.array(
                    F.when(F.col("ks_pvalue") < 0.05, F.lit("ks_test")),
                    F.when(F.col("psi") >= 0.25, F.lit("psi_significant")),
                )
            ).alias("drift_causes"),
            "ks",
            "ks_pvalue",
            "wasserstein",
            "psi",
            "stability",
        )
        results.append(_to_result_rows(st_rows, "statistical_test"))

    if cfg.get("analyze_benford", False) and num_cols:
        # Beyond the reference's families (opt-in): Benford first-digit
        # conformance per side and its SHIFT — a feed that was always
        # non-Benford isn't drift, so the score is the tvd shift, with a
        # separate cause when curr is outright non-conforming.
        from pyspark_data_drift_detector_spark.operators.distribution import (
            benford_deviation_pair,
        )
        from pyspark_data_drift_detector_spark.operators.numeric_drift import (
            severity_expr,
        )

        shift_th = float(cfg.get("benford_shift_threshold", 0.05))
        conform_th = float(cfg.get("benford_conformance_threshold", 0.15))
        # ONE side-tagged scan for both sides' digit panels; digit-less
        # sides carry NULL tvd, so a constant-zero/all-null column can
        # never read as "maximally non-Benford"
        pair = benford_deviation_pair(df_ref, df_curr, num_cols)
        shift = F.abs(F.col("curr_tvd") - F.col("ref_tvd"))
        # least() SKIPS null operands, so least(1.0, NULL*5) is 1.0 — a
        # column with no extractable digits on either side (all-NULL /
        # all-zero) would read "maximally non-Benford". Guard the NULL
        # before least(), not after (coalesce after least never fires).
        score = F.when(
            shift.isNotNull(), F.least(F.lit(1.0), shift * 5)
        ).otherwise(F.lit(0.0))
        bf_rows = pair.select(
            "column_name",
            score.alias("drift_score"),
            severity_expr(score).alias("drift_severity"),
            F.coalesce(
                (shift > shift_th) | (F.col("curr_tvd") > conform_th),
                F.lit(False),
            ).alias("drift_detected"),
            F.array_compact(
                F.array(
                    F.when(shift > shift_th, F.lit("benford_shift")),
                    F.when(
                        F.col("curr_tvd") > conform_th,
                        F.lit("benford_nonconforming"),
                    ),
                )
            ).alias("drift_causes"),
            "ref_n",
            "curr_n",
            "ref_tvd",
            "curr_tvd",
            F.col("ref_chi2"),
            F.col("curr_chi2"),
        )
        results.append(_to_result_rows(bf_rows, "benford"))

    overlap_cols = list(cfg.get("key_overlap_columns") or [])
    if cfg.get("analyze_key_overlap", False) and overlap_cols:
        # Beyond the reference's families (opt-in): cohort retention/churn
        # per key column — population rotation the frequency families miss
        # when every marginal stays flat. Scored by churn_rate.
        from pyspark_data_drift_detector_spark.operators.categorical_drift import (
            key_overlap_drift,
        )
        from pyspark_data_drift_detector_spark.operators.numeric_drift import (
            severity_expr,
        )

        churn_th = float(cfg.get("churn_threshold", 0.5))
        ov = key_overlap_drift(df_ref, df_curr, overlap_cols, churn_th)
        ov_rows = ov.select(
            "column_name",
            F.least(F.lit(1.0), F.col("churn_rate")).alias("drift_score"),
            severity_expr(
                F.least(F.lit(1.0), F.col("churn_rate"))
            ).alias("drift_severity"),
            "drift_detected",
            F.array_compact(
                F.array(
                    F.when(
                        F.col("churn_rate") > churn_th,
                        F.lit("population_churn"),
                    ),
                    F.when(
                        F.col("new_rate") > churn_th, F.lit("new_key_influx")
                    ),
                )
            ).alias("drift_causes"),
            "ref_keys",
            "curr_keys",
            "retained",
            "churned",
            "new_keys",
            "jaccard",
            "churn_rate",
            "new_rate",
        )
        results.append(_to_result_rows(ov_rows, "key_overlap"))

    target = cfg.get("target_column")
    if target and cfg.get("analyze_feature_importance", False) and target in num_cols:
        # data_drift_detector.py:193-215 — importance drift per predictor;
        # significant at abs_change >= 0.1 (binary, like the distribution
        # family: the reference reports counts, not a scalar score)
        predictors = [c for c in num_cols if c != target]
        if predictors:
            from pyspark_data_drift_detector_spark.operators.correlation import (
                feature_importance_drift,
            )

            fi = feature_importance_drift(df_ref, df_curr, target, predictors)
            fi_rows = fi.select(
                F.col("column").alias("column_name"),
                F.lit(0.0).alias("drift_score"),
                F.lit("None").alias("drift_severity"),
                (F.col("abs_change") >= 0.1).alias("drift_detected"),
                F.array_compact(
                    F.array(
                        F.when(F.col("abs_change") >= 0.1, F.lit("importance_shift")),
                        F.when(F.col("significant_rank_shift"), F.col("shift_type")),
                    )
                ).alias("drift_causes"),
                "ref_importance",
                "curr_importance",
                "abs_change",
                "rank_shift",
            )
            results.append(_to_result_rows(fi_rows, "feature_importance"))

    if cfg.get("analyze_groups", True):
        from pyspark_data_drift_detector_spark.operators.groups import group_drift

        group_columns = cfg.get("group_columns") or by_type.get("categorical", [])[:3]
        if group_columns:
            # ALL dimensions analyzed in one shared scan+shuffle (the
            # dimension is data, not three separate plans)
            gd = group_drift(
                df_ref,
                df_curr,
                group_columns,
                numeric_columns=num_cols,
                categorical_columns=cat_cols,
                top_k_groups=int(cfg.get("group_top_k", 20)),
                top_k_values=int(cfg.get("group_value_top_k", 10)),
                exact_median=bool(cfg.get("exact_group_median", False)),
            )
            gd_rows = gd.select(
                F.col("dimension_column").alias("column_name"),
                F.concat_ws("=", F.col("dimension_column"), F.col("dimension_value")).alias(
                    "__dimension_id"
                ),
                "drift_score",
                "drift_detected",
                F.array().cast("array<string>").alias("drift_causes"),
                "ref_rows",
                "curr_rows",
                "row_pct_change",
                "metrics_with_drift",
            )
            from pyspark_data_drift_detector_spark.operators.numeric_drift import severity_expr

            gd_rows = gd_rows.withColumn("drift_severity", severity_expr(F.col("drift_score")))
            metric_cols = ["ref_rows", "curr_rows", "row_pct_change", "metrics_with_drift"]
            results.append(
                gd_rows.select(
                    F.current_timestamp().alias("run_timestamp"),
                    F.col("column_name"),
                    F.lit("group").alias("column_type"),
                    F.col("__dimension_id").alias("dimension_id"),
                    F.col("drift_score").cast("double").alias("drift_score"),
                    F.col("drift_severity"),
                    F.col("drift_detected"),
                    F.col("drift_causes"),
                    F.to_json(F.struct(*[F.col(c) for c in metric_cols])).alias("metrics"),
                )
            )

    # Custom analyzers (the engine's counterpart to the reference's
    # create_analyzer_template.py scaffold): each entry is a callable — or a
    # "package.module:function" dotted path, importable from a JSON config —
    # with signature fn(df_ref, df_curr, by_type, cfg) -> DataFrame carrying
    # column_name/drift_score/drift_severity/drift_detected/drift_causes
    # plus any metric columns (folded into the metrics JSON). Generate a
    # working starting point with scaffold.create_operator_template().
    for spec in cfg.get("custom_analyzers") or []:
        if callable(spec):
            fn = spec
        else:
            import importlib

            mod_name, _, attr = str(spec).replace(":", ".").rpartition(".")
            fn = getattr(importlib.import_module(mod_name), attr)
        family = getattr(fn, "analyzer_name", None) or getattr(fn, "__name__", "custom")
        results.append(_to_result_rows(fn(df_ref, df_curr, by_type, cfg), family))

    if not results:
        raise ValueError("no analyzable columns in common between ref and curr")

    # Each family is materialized as its own bounded plan: one union of 6+
    # families compiles to whole-stage code that degrades the JVM's code
    # cache, and concurrent families fill the cores one family's shuffle
    # barrier leaves idle.
    results = collect_local(results)

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def detect_drift_incremental(
    profile_state: DataFrame,
    category_state: DataFrame,
    ref_partitions: list[str],
    curr_partitions: list[str],
    num_thresholds: dict[str, float] | None = None,
    cat_thresholds: dict[str, float] | None = None,
    top_k: int | None = 20,
    quantile_state: DataFrame | None = None,
) -> DataFrame:
    """Window-vs-window drift detection from STATE TABLES only — no data
    re-scan.

    The incremental pipeline a daily ingest runs: each batch appends its
    additive summaries once (``mergeable.partitioned_profile`` +
    ``mergeable.partitioned_categories``, optionally
    ``mergeable.partitioned_quantiles``), and any two partition windows
    compare for the cost of a metadata query — the
    re-profile-both-full-snapshots cost the reference pays on every run
    (SURVEY §3) drops out entirely. Each half is one small plan over the
    state tables, with no per-side sub-plans and no joins:

    - numeric: one ``groupBy(column_name)`` over both windows' profile
      (and KLL) rows, each side a conditional aggregate
      (``mergeable.windowed_profiles``), scored with the M16 weighted
      score. With ``quantile_state`` the score carries median/IQR like the
      scan-time path; KLL merges are randomized, so that ``drift_score``
      is not bit-reproducible across calls (it stays within the sketch's
      rank error). Without it those metrics are absent and the weight
      mass renormalizes.
    - categorical: the cells ``groupBy`` plus one ``column_name`` window
      carrying totals and top-k ranks, scored with the full M18/M20 score.
      Nothing is left cached.

    Output: one slim row per column — ``column_name, column_type,
    drift_score, drift_severity, drift_detected`` — the summary
    projection of the long result table.
    """
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_categorical_drift,
        merged_drift,
    )

    slim = [
        "column_name",
        "CAST(drift_score AS DOUBLE) AS drift_score",
        "drift_severity",
        "drift_detected",
    ]
    num = merged_drift(
        profile_state, ref_partitions, curr_partitions, num_thresholds,
        quantile_parts=quantile_state,
    ).selectExpr("column_name", "'numerical' AS column_type", *slim[1:])
    cat = merged_categorical_drift(
        category_state, ref_partitions, curr_partitions, cat_thresholds, top_k
    ).selectExpr("column_name", "'categorical' AS column_type", *slim[1:])
    return num.unionByName(cat)
