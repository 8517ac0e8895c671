"""Config system: JSON configs with threshold profiles.

Reimplements the *intent* of the reference's missing ``config_manager.py``
(the call sites are ``data_drift_detector.py:26`` and ``main.py:15`` in the
reference) plus the generated-config schema from
``config_generator.py:25-104``. Profiles ``summary``/``standard``/
``deep_dive`` carry the threshold trees verbatim (values are observable
behavior, reproduced from the reference's generator).
"""

from __future__ import annotations

import copy
import json
from dataclasses import dataclass, field
from typing import Any

# Threshold profiles — values match /root/reference/config_generator.py:41-102.
THRESHOLD_PROFILES: dict[str, dict[str, Any]] = {
    "summary": {
        "numerical": {
            "mean_threshold": 0.1,
            "median_threshold": 0.1,
            "std_threshold": 0.2,
            "iqr_threshold": 0.2,
            "null_threshold": 0.01,
        },
        "categorical": {
            "category_threshold": 0.05,
            "chi_square_pvalue": 0.01,
            "null_threshold": 0.01,
        },
        "correlation_threshold": 0.7,
        "correlation_change_threshold": 0.3,
        "js_distance_threshold": 0.1,
        "rare_value_threshold": 0.01,
        "analyze_distributions": False,
        "detect_rare_values": False,
    },
    "standard": {
        "numerical": {
            "mean_threshold": 0.05,
            "median_threshold": 0.05,
            "std_threshold": 0.1,
            "iqr_threshold": 0.1,
            "null_threshold": 0.005,
        },
        "categorical": {
            "category_threshold": 0.03,
            "chi_square_pvalue": 0.05,
            "null_threshold": 0.005,
        },
        "correlation_threshold": 0.7,
        "correlation_change_threshold": 0.2,
        "js_distance_threshold": 0.1,
        "rare_value_threshold": 0.01,
        "analyze_distributions": True,
        "detect_rare_values": True,
        "gen_distribution_summaries": False,
    },
    "deep_dive": {
        "numerical": {
            "mean_threshold": 0.03,
            "median_threshold": 0.03,
            "std_threshold": 0.05,
            "iqr_threshold": 0.05,
            "null_threshold": 0.001,
        },
        "categorical": {
            "category_threshold": 0.01,
            "chi_square_pvalue": 0.05,
            "null_threshold": 0.001,
        },
        "correlation_threshold": 0.6,
        "correlation_change_threshold": 0.15,
        "js_distance_threshold": 0.05,
        "rare_value_threshold": 0.005,
        "analyze_distributions": True,
        "detect_rare_values": True,
        "gen_distribution_summaries": True,
    },
}

_DEFAULTS: dict[str, Any] = {
    "table_path": None,
    "reference_version": 0,
    "current_version": 1,
    "profile": "standard",
    "analyze_distributions": True,
    "analyze_correlations": True,
    "analyze_groups": True,
    "analyze_feature_importance": False,
    # the Temporal analyzer the reference's architecture doc promises but
    # never implements (SURVEY §1.1) — mean-time shift / range change /
    # day-of-week JS per temporal column
    "analyze_temporal": True,
    "temporal_mean_shift_days": 7.0,
    "target_column": None,
    "include_columns": [],
    "exclude_columns": [],
    "custom_column_types": {},
    "group_columns": [],
    "sample_size": 100000,
    "adaptive_thresholds": False,
    # Category-domain truncation knobs (observable semantics — SURVEY §2.6 T1):
    # the categorical analyzer sees top-k categories; the distribution analyzer
    # sees ALL categories. Both behaviors are preserved behind these knobs.
    "categorical_top_k": 20,
    "group_top_k": 20,
    "group_value_top_k": 10,
    # Quantile strategy: approx (percentile_approx, single-pass sketch) is
    # the default — the reference's own choice in its row-path
    # (numerical_analyzer.py:306-307) and the only shape that survives
    # 100 TB (exact percentile merges a full value→count map in one final
    # task). Exact interpolated quantiles (= DuckDB quantile_cont) remain a
    # knob; the oracle-checked standalone queries pass exact explicitly.
    "exact_quantiles": False,
    "quantile_accuracy": 10000,
    # "counts" switches exact quantiles to the value-histogram path
    # (profile.quantiles_by_counts) — bounded state at any scale
    "quantile_mode": "auto",
    # KLL sketch accuracy/state knob (Datasketches K) for quantile_mode
    # "kll" — tune rank error vs sketch size without editing the library
    "kll_k": 800,
    # Numeric drift scorer: "weighted" (dict-path, numerical_analyzer.py:253-272)
    # or "row_path" (M17 mean-of-components, numerical_analyzer.py:278-558).
    # Both reference scorers are preserved; default matches the reference's
    # dict-path (the one its pipeline actually reports).
    "numeric_score_mode": "weighted",
    # columns per profile aggregate (keeps plans inside codegen maxFields;
    # the reference batches at 100 for driver memory, main.py:96-120)
    "column_batch_size": 100,
    # ---- opt-in families and knobs read by pipeline.detect_drift /
    # runner.run (every key the engine reads is declared HERE so
    # docs/CONFIG.md + its completeness test can't silently rot; the
    # values mirror the call sites' inline .get() defaults) ----
    "statistical_tests": False,  # KS + Wasserstein family (opt-in)
    "analyze_benford": False,
    "benford_shift_threshold": 0.05,
    "benford_conformance_threshold": 0.15,
    "analyze_key_overlap": False,
    "key_overlap_columns": [],
    "churn_threshold": 0.5,
    "exact_group_median": False,
    "custom_analyzers": [],
    "json_fields": {},
    "output_table": None,
    "output_path": None,
    "output_format": "parquet",
    "results_blob_path": None,
}


@dataclass
class DriftConfig:
    """Resolved configuration for one drift-detection run."""

    raw: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        merged = copy.deepcopy(_DEFAULTS)
        merged.update(self.raw or {})
        profile = merged.get("profile", "standard")
        if profile not in THRESHOLD_PROFILES:
            raise ValueError(f"unknown profile {profile!r}; expected one of {sorted(THRESHOLD_PROFILES)}")
        thresholds = copy.deepcopy(THRESHOLD_PROFILES[profile])
        # user-level threshold overrides win over the profile
        user_thresholds = (self.raw or {}).get("thresholds", {})
        if user_thresholds:
            for key, val in user_thresholds.items():
                if isinstance(val, dict) and isinstance(thresholds.get(key), dict):
                    thresholds[key].update(val)
                else:
                    thresholds[key] = val
        merged["thresholds"] = thresholds
        self.raw = merged

    # -- convenience accessors ------------------------------------------------
    def __getitem__(self, key: str) -> Any:
        return self.raw[key]

    def get(self, key: str, default: Any = None) -> Any:
        return self.raw.get(key, default)

    @property
    def thresholds(self) -> dict[str, Any]:
        return self.raw["thresholds"]

    @property
    def numerical_thresholds(self) -> dict[str, float]:
        return self.thresholds["numerical"]

    @property
    def categorical_thresholds(self) -> dict[str, float]:
        return self.thresholds["categorical"]


def generate_config(
    table_path: str | None = None,
    reference_version: int = 0,
    current_version: int = 1,
    profile: str = "standard",
    output_table: str | None = None,
    **overrides: Any,
) -> DriftConfig:
    """Build a config dict the way the reference's generator does."""
    raw: dict[str, Any] = {
        "table_path": table_path,
        "reference_version": reference_version,
        "current_version": current_version,
        "profile": profile,
    }
    if output_table:
        raw["output_table"] = output_table
    raw.update(overrides)
    return DriftConfig(raw)


def load_config(path: str) -> DriftConfig:
    """Load a JSON config file and merge with defaults.

    Contract reconstructed from the reference's
    ``ConfigManager.load_config_and_defaults`` call sites.
    """
    with open(path) as fh:
        return DriftConfig(json.load(fh))


def save_config(config: DriftConfig, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(config.raw, fh, indent=2)
