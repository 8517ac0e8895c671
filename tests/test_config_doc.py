"""docs/CONFIG.md completeness (VERDICT r8 task 7): the config surface
has grown past README Usage; this pins the generated reference doc to
the code so neither can rot silently."""

from __future__ import annotations

import pathlib
import re

from pyspark_data_drift_detector_spark.config import _DEFAULTS, DriftConfig

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "pyspark_data_drift_detector_spark"
DOC = REPO / "docs" / "CONFIG.md"

# keys produced by the config machinery itself, not user inputs
_DERIVED = {"thresholds"}


def _doc_keys() -> set[str]:
    text = DOC.read_text()
    return set(re.findall(r"^\| `([a-z_0-9]+)` \|", text, re.M))


def test_every_default_documented():
    missing = set(_DEFAULTS) - _doc_keys()
    assert not missing, f"undocumented config keys: {sorted(missing)}"


def test_no_stale_doc_rows():
    stale = _doc_keys() - set(_DEFAULTS)
    assert not stale, f"doc rows without a _DEFAULTS entry: {sorted(stale)}"


def test_every_read_key_declared():
    """Every config key the package READS (cfg.get / cfg[...]) must be
    declared in _DEFAULTS — an inline .get() default on an undeclared key
    is how analyze_benford & co. escaped the docs in the first place."""
    pattern = re.compile(r"(?:cfg|config)(?:\.get\(|\[)\s*\"([a-z_0-9]+)\"")
    read: set[str] = set()
    for path in PKG.rglob("*.py"):
        read |= set(pattern.findall(path.read_text()))
    undeclared = read - set(_DEFAULTS) - _DERIVED
    assert not undeclared, f"config keys read but not in _DEFAULTS: {sorted(undeclared)}"


def test_declared_defaults_match_doc_values():
    """The doc's default column must show the _DEFAULTS value verbatim
    (backtick-quoted python repr, with strings double-quoted)."""
    text = DOC.read_text()
    rows = dict(re.findall(r"^\| `([a-z_0-9]+)` \| `([^`]*)` \|", text, re.M))
    for key, val in _DEFAULTS.items():
        assert key in rows
        assert rows[key] == repr(val).replace("'", '"'), (
            f"{key}: doc says {rows[key]!r}, code default is {val!r}"
        )


def test_inline_get_defaults_agree_with_declared():
    """Call-site inline defaults (cfg.get("k", v)) must equal _DEFAULTS[k]
    wherever both exist."""
    pattern = re.compile(
        r"(?:cfg|config)\.get\(\s*\"([a-z_0-9]+)\",\s*([^)\n]+)\)"
    )
    mismatches = []
    for path in PKG.rglob("*.py"):
        for key, raw in pattern.findall(path.read_text()):
            if key not in _DEFAULTS:
                continue
            try:
                inline = eval(raw, {}, {})  # literals only in practice
            except Exception:
                continue
            if inline != _DEFAULTS[key]:
                mismatches.append((path.name, key, inline, _DEFAULTS[key]))
    assert not mismatches, mismatches


def test_new_keys_resolve_through_config():
    cfg = DriftConfig({})
    assert cfg.get("analyze_benford") is False
    assert cfg.get("key_overlap_columns") == []
    assert cfg.get("output_format") == "parquet"
