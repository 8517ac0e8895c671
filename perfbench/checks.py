"""Output checks. Each takes plain Python data already collected from the
engine and returns a list of problems; an empty list means the output is
correct. They hold no Spark code, so the benchmark's tests can feed them
corrupted results directly."""

from __future__ import annotations

import math


def check_drift_results(
    columns: list[str],
    rows: list[dict],
    expected_columns: list[str],
    planted: list[str],
    controls: list[str],
) -> list[str]:
    """A drift result table: schema, planted drift found, controls quiet.

    ``rows`` are result rows as dicts; ``planted`` columns must have a
    ``drift_detected`` numerical or categorical row, and no numerical row
    of a ``controls`` column may be flagged.
    """
    problems = []
    if list(columns) != list(expected_columns):
        problems.append(f"result columns {list(columns)} != {list(expected_columns)}")
    flagged = {
        (r["column_type"], r["column_name"])
        for r in rows
        if r.get("drift_detected") and r.get("dimension_id", "all") == "all"
    }
    for col in planted:
        if ("numerical", col) not in flagged and ("categorical", col) not in flagged:
            problems.append(f"planted drift in {col} not detected")
    for col in controls:
        if ("numerical", col) in flagged:
            problems.append(f"control column {col} flagged by the numerical family")
        if not any(r["column_type"] == "numerical" and r["column_name"] == col for r in rows):
            problems.append(f"control column {col} has no numerical result row")
    return problems


PROFILE_FIELDS = ("n_rows", "null_count", "min", "max", "mean")


def check_merged_profile(merged: dict[str, dict], direct: dict[str, dict], rel_tol: float = 1e-9) -> list[str]:
    """A merged window profile against a direct aggregate of the same rows:
    both map column name -> {n_rows, null_count, min, max, mean}."""
    problems = []
    if set(merged) != set(direct):
        problems.append(f"profiled columns {sorted(merged)} != {sorted(direct)}")
    for col in sorted(set(merged) & set(direct)):
        for f in PROFILE_FIELDS:
            a, b = merged[col].get(f), direct[col].get(f)
            if a is None or b is None:
                same = a is None and b is None
            else:
                same = math.isclose(float(a), float(b), rel_tol=rel_tol, abs_tol=1e-12)
            if not same:
                problems.append(f"{col}.{f}: merged {a!r} != direct {b!r}")
    return problems


def check_window_result(rows: list[dict], expected_columns: set[str]) -> list[str]:
    """One window-vs-window comparison: a scored row per analyzed column."""
    problems = []
    names = [r["column_name"] for r in rows]
    if sorted(names) != sorted(expected_columns):
        problems.append(f"window result columns {sorted(names)} != {sorted(expected_columns)}")
    for r in rows:
        if r.get("drift_detected") is None or r.get("drift_score") is None:
            problems.append(f"{r['column_name']}: unscored window result")
    return problems


def family_of(doc_id: int, originals: int, copies: int) -> int:
    return doc_id if doc_id < originals else (doc_id - originals) // copies


def check_dedup(
    doc_ids: list[int],
    clusters: dict[int, int],
    survivors: list[int],
    originals: int,
    copies: int,
) -> list[str]:
    """Near-dup clusters and survivors against the planted families.

    ``doc_ids``: the documents given to the engine; ``clusters``: id ->
    cluster_id for every clustered document; ``survivors``: the kept ids.
    Every planted copy must share its original's cluster, and the
    survivors must be exactly one document per family.
    """
    problems = []
    families: dict[int, list[int]] = {}
    for d in doc_ids:
        families.setdefault(family_of(d, originals, copies), []).append(d)
    split = 0
    for fam, members in families.items():
        if len(members) < 2:
            continue
        labels = {clusters.get(d) for d in members}
        if len(labels) != 1 or None in labels:
            split += 1
    if split:
        problems.append(f"{split} planted families not in one cluster")
    merged = {}
    for d, c in clusters.items():
        merged.setdefault(c, set()).add(family_of(d, originals, copies))
    joined = sum(1 for fams in merged.values() if len(fams) > 1)
    if joined:
        problems.append(f"{joined} clusters join different families")
    kept = sorted(survivors)
    if len(kept) != len(set(kept)):
        problems.append("duplicate survivor ids")
    if len(set(kept)) != len(families) or {family_of(d, originals, copies) for d in kept} != set(families):
        problems.append(f"{len(set(kept))} survivors for {len(families)} families")
    return problems
