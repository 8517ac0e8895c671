"""Correlation family: pair correlations, shift detection, feature importance,
correlation groups (SURVEY §2.9 M1-M5).

The reference computes an n×n matrix per side via ``VectorAssembler`` +
``Correlation.corr`` and collects it (``correlation_analyzer.py:336-370``),
or falls back to one ``df.stat.corr`` driver call per pair per side
(``:269-276`` — 2·C(n,2) Spark jobs). Here all pairs for BOTH sides are
computed in ONE aggregate over a side-tagged union: ``F.corr`` is an
algebraic aggregate, so map-side partial aggregation applies and the job
shuffles a single row regardless of table size.

Pair keys are (col1, col2) tuples, fixing the reference's
``pair_key.split('_')`` bug on column names containing underscores
(``correlation_analyzer.py:400``, SURVEY §7.4 risk 3).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def correlation_pairs(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Pearson correlation for every unique column pair on both sides.

    Output: ``col1, col2, ref_correlation, curr_correlation, abs_change``.
    Null/NaN correlations (constant columns) coalesce to 0 — the reference's
    ``.get(pair_key, 0)`` behavior (``correlation_analyzer.py:65-66``).
    """
    pairs = list(combinations(columns, 2))
    if not pairs:
        raise ValueError("need at least two columns")
    tagged = df_ref.select(F.lit("r").alias("__side"), *columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *columns)
    )
    # SQL-string assembly: O(pairs) corr aggregates cross the py4j bridge in
    # ONE selectExpr call instead of ~10 round-trips per expression (see
    # the profile module docstring for the measurement)
    aggs = []
    for i, (a, b) in enumerate(pairs):
        for pre, tag in (("ref", "'r'"), ("curr", "'c'")):
            da = f"CASE WHEN __side = {tag} THEN CAST(`{a}` AS DOUBLE) END"
            db = f"CASE WHEN __side = {tag} THEN CAST(`{b}` AS DOUBLE) END"
            aggs.append(f"corr({da}, {db}) AS `{pre}__{i}`")
    wide = tagged.selectExpr(*aggs)
    structs = [
        "named_struct("
        f"'col1', '{a}', 'col2', '{b}', "
        f"'ref_correlation', coalesce(nanvl(`ref__{i}`, CAST(NULL AS DOUBLE)), 0.0D), "
        f"'curr_correlation', coalesce(nanvl(`curr__{i}`, CAST(NULL AS DOUBLE)), 0.0D))"
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.selectExpr("inline(array(" + ", ".join(structs) + "))").withColumn(
        "abs_change", F.abs(F.col("curr_correlation") - F.col("ref_correlation"))
    )


def correlation_shifts(
    pairs: DataFrame,
    change_threshold: float = 0.2,
    strong_threshold: float = 0.7,
) -> DataFrame:
    """Classify pair-level correlation changes (M3).

    Semantics from ``correlation_analyzer.py:79-104``: significant shift at
    |Δ| ≥ change_threshold with weaker/stronger label; new strong when
    |ref| < τ ≤ |curr|; disappeared when |ref| ≥ τ > |curr|.
    """
    ct, st = repr(float(change_threshold)), repr(float(strong_threshold))
    r, c = "abs(ref_correlation)", "abs(curr_correlation)"
    return pairs.selectExpr(
        "*",
        f"abs_change >= {ct} AS significant_shift",
        f"CASE WHEN abs_change >= {ct} THEN "
        f"CASE WHEN {c} < {r} THEN 'weaker' ELSE 'stronger' END END AS change_type",
        f"({r} < {st}) AND ({c} >= {st}) AS new_strong_correlation",
        f"({r} >= {st}) AND ({c} < {st}) AS disappeared_strong_correlation",
        f"CASE WHEN ({r} < {st}) AND ({c} >= {st}) THEN "
        f"  CASE WHEN curr_correlation < 0 THEN 'negative' ELSE 'positive' END "
        f"WHEN ({r} >= {st}) AND ({c} < {st}) THEN "
        f"  CASE WHEN ref_correlation < 0 THEN 'negative' ELSE 'positive' END "
        f"END AS correlation_type",
    )


def correlation_matrix(df: DataFrame, columns: list[str], method: str = "pearson") -> list[list[float]]:
    """Full n×n matrix via pyspark.ml (M1) — for API parity with the
    reference's matrix path (``correlation_analyzer.py:336-370``).
    Returns a nested list; prefer ``correlation_pairs`` for drift math."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    assembled = VectorAssembler(
        inputCols=columns, outputCol="__features", handleInvalid="skip"
    ).transform(df.select(*columns))
    matrix = Correlation.corr(assembled, "__features", method).collect()[0][0]
    return matrix.toArray().tolist()


def feature_importance_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    target_column: str,
    predictor_columns: list[str],
) -> DataFrame:
    """Importance = |corr(predictor, target)| per side; shifts + rank moves.

    One aggregate for all predictors on both sides. Semantics from
    ``correlation_analyzer.py:237-334``: rel_change = abs_change /
    max(ref_importance, 0.01); rank shift significant at |Δrank| ≥ 2
    (ranks are 1-based, ties broken by column name for determinism).
    """
    tagged = df_ref.select(F.lit("r").alias("__side"), target_column, *predictor_columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), target_column, *predictor_columns)
    )
    aggs = []
    for i, p in enumerate(predictor_columns):
        for pre, tag in (("ref", "r"), ("curr", "c")):
            cond = F.col("__side") == tag
            aggs.append(
                F.corr(
                    F.when(cond, F.col(p).cast("double")),
                    F.when(cond, F.col(target_column).cast("double")),
                ).alias(f"{pre}__{i}")
            )
    wide = tagged.agg(*aggs)
    structs = [
        F.struct(
            F.lit(p).alias("column"),
            F.abs(F.coalesce(F.nanvl(F.col(f"ref__{i}"), F.lit(None)), F.lit(0.0))).alias(
                "ref_importance"
            ),
            F.abs(F.coalesce(F.nanvl(F.col(f"curr__{i}"), F.lit(None)), F.lit(0.0))).alias(
                "curr_importance"
            ),
        )
        for i, p in enumerate(predictor_columns)
    ]
    imp = wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    ref_rank_w = Window.orderBy(F.desc("ref_importance"), F.asc("column"))
    curr_rank_w = Window.orderBy(F.desc("curr_importance"), F.asc("column"))
    out = (
        imp.withColumn("abs_change", F.abs(F.col("curr_importance") - F.col("ref_importance")))
        .withColumn(
            "rel_change",
            F.col("abs_change") / F.greatest(F.col("ref_importance"), F.lit(0.01)),
        )
        .withColumn(
            "change_type",
            F.when(F.col("curr_importance") > F.col("ref_importance"), "increased").otherwise(
                "decreased"
            ),
        )
        .withColumn("ref_rank", F.row_number().over(ref_rank_w))
        .withColumn("curr_rank", F.row_number().over(curr_rank_w))
        .withColumn("rank_shift", F.col("ref_rank") - F.col("curr_rank"))
        .withColumn("significant_rank_shift", F.abs(F.col("rank_shift")) >= 2)
        .withColumn(
            "shift_type",
            F.when(F.abs(F.col("rank_shift")) < 2, F.lit(None).cast("string"))
            .when(F.col("rank_shift") > 0, "improved")
            .otherwise("declined"),
        )
    )
    return out


def correlation_groups(
    pair_rows: list,
    threshold: float = 0.7,
    side: str = "ref",
) -> list[set[str]]:
    """Connected components of the |corr| ≥ threshold graph (M4).

    Driver-side BFS over the O(columns²) collected pair rows — correct at
    any data scale because the input is column metadata, not data. The
    reference's implementation is dead code (missing
    ``_get_correlation_matrix``, ``correlation_analyzer.py:477`` — SURVEY
    §2.9 M4); this implements the documented intent.
    """
    key = f"{side}_correlation"
    adj: dict[str, set[str]] = {}
    for row in pair_rows:
        c1, c2, corr = row["col1"], row["col2"], row[key]
        adj.setdefault(c1, set())
        adj.setdefault(c2, set())
        if corr is not None and abs(corr) >= threshold:
            adj[c1].add(c2)
            adj[c2].add(c1)
    seen: set[str] = set()
    groups: list[set[str]] = []
    for start in sorted(adj):
        if start in seen:
            continue
        comp = {start}
        queue = [start]
        seen.add(start)
        while queue:
            node = queue.pop()
            for nbr in adj[node]:
                if nbr not in seen:
                    seen.add(nbr)
                    comp.add(nbr)
                    queue.append(nbr)
        if len(comp) > 1:
            groups.append(comp)
    return groups


def correlation_group_changes(
    pair_rows: list,
    threshold: float = 0.7,
) -> dict:
    """Group-level change summary: matched/dissolved/new groups via best
    Jaccard overlap (the reference's intended 'group change ratio')."""
    ref_groups = correlation_groups(pair_rows, threshold, "ref")
    curr_groups = correlation_groups(pair_rows, threshold, "curr")
    changes = []
    for rg in ref_groups:
        best = 0.0
        for cg in curr_groups:
            jac = len(rg & cg) / len(rg | cg)
            best = max(best, jac)
        changes.append(
            {
                "group": sorted(rg),
                "best_match_jaccard": best,
                "change_ratio": 1.0 - best,
                "dissolved": best == 0.0,
            }
        )
    new_groups = [
        sorted(cg)
        for cg in curr_groups
        if all(len(cg & rg) == 0 for rg in ref_groups)
    ]
    return {
        "ref_group_count": len(ref_groups),
        "curr_group_count": len(curr_groups),
        "group_changes": changes,
        "new_groups": new_groups,
    }


def mutual_information_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    pairs: list[tuple[str, str]],
    threshold: float = 0.05,
    materialize: bool = True,
) -> DataFrame:
    """Dependency-structure drift: mutual information between categorical
    column PAIRS, per side, and its shift — catching the drift class the
    marginal families cannot see (each column's distribution unchanged,
    but the columns' RELATIONSHIP rotated: a payments feed where status
    and priority decouple after an upstream bug).

    Per pair and side: ``MI(X;Y) = Σ p(x,y)·log2(p(x,y)/(p(x)p(y)))``
    plus marginal entropies and the normalized ``NMI = MI/min(H_X, H_Y)``
    (0 when either marginal is constant). NULL values count as a real
    category: both columns are coalesced to a ``\\x01<null>`` sentinel
    BEFORE the joint groupBy, because the marginal/total joins use
    null-rejecting equality and would otherwise silently drop NULL joint
    cells from the MI sum while still counting them in ``n`` and the
    marginal entropies (understating MI/NMI on nullable columns).
    Drift flags when ``|ref_nmi − curr_nmi| > threshold``.

    Shape: per pair, ONE side-tagged joint count (shuffle keyed by the
    joint value — no hot reducer), marginals re-aggregated FROM the
    joint table (O(joint distinct), no second data scan) and joined
    back; every log/sum is expression math.

    ``materialize=True`` (default) eagerly localCheckpoints each pair's
    1-row result so the per-pair joint cache is released at call time;
    ``materialize=False`` returns the fully lazy plan (no persist, no
    checkpoint) for composition and plan inspection — the joint subtree
    may then be scanned once per consuming branch.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    if not pairs:
        raise ValueError("no pairs")
    ensure_safe_columns([c for p in pairs for c in p])
    out = None
    null_sentinel = "\x01<null>"
    for x, y in pairs:
        xe = f"COALESCE(CAST(`{x}` AS STRING), '{null_sentinel}') AS x"
        ye = f"COALESCE(CAST(`{y}` AS STRING), '{null_sentinel}') AS y"
        tagged = df_ref.selectExpr("'r' AS side", xe, ye).unionByName(
            df_curr.selectExpr("'c' AS side", xe, ye)
        )
        from pyspark import StorageLevel

        # the joint table (O(|X|·|Y|) rows) feeds four aggregates and the
        # scoring join — persist it or every branch re-scans the raw data
        joint = tagged.groupBy("side", "x", "y").agg(
            F.count(F.lit(1)).alias("nxy")
        )
        if materialize:
            joint = joint.persist(StorageLevel.MEMORY_AND_DISK)
        margx = joint.groupBy("side", "x").agg(F.sum("nxy").alias("nx"))
        margy = joint.groupBy("side", "y").agg(F.sum("nxy").alias("ny"))
        tot = joint.groupBy("side").agg(F.sum("nxy").alias("n"))
        enr = (
            joint.join(margx, ["side", "x"])
            .join(margy, ["side", "y"])
            .join(F.broadcast(tot), "side")
        )
        per_side = enr.groupBy("side").agg(
            F.expr(
                "sum((nxy / n) * log2((nxy / n) / ((nx / n) * (ny / n)))) AS mi"
            ),
            F.expr("first(n) AS n"),
        )
        hx = margx.join(F.broadcast(tot), "side").groupBy("side").agg(
            F.expr("-sum((nx / n) * log2(nx / n)) AS hx")
        )
        hy = margy.join(F.broadcast(tot), "side").groupBy("side").agg(
            F.expr("-sum((ny / n) * log2(ny / n)) AS hy")
        )
        sides = (
            per_side.select("side", "mi", "n")
            .join(hx, "side")
            .join(hy, "side")
            .selectExpr(
                "side",
                "greatest(mi, 0.0D) AS mi",
                "hx",
                "hy",
                "CASE WHEN least(hx, hy) > 0 THEN greatest(mi, 0.0D) / least(hx, hy)"
                " ELSE 0.0D END AS nmi",
            )
        )
        row = (
            sides.groupBy()
            .pivot("side", ["r", "c"])
            .agg(
                F.first("mi").alias("mi"),
                F.first("nmi").alias("nmi"),
                F.first("hx").alias("hx"),
                F.first("hy").alias("hy"),
            )
            .selectExpr(
                f"'{x}' AS col_x",
                f"'{y}' AS col_y",
                "r_mi AS ref_mi",
                "c_mi AS curr_mi",
                "r_nmi AS ref_nmi",
                "c_nmi AS curr_nmi",
                "abs(c_nmi - r_nmi) AS nmi_abs_diff",
                f"abs(c_nmi - r_nmi) > {float(threshold)!r}D AS drift_detected",
            )
        )
        if materialize:
            # one row per pair: materialize it (cutting lineage) so the
            # joint cache can be released NOW instead of leaking one
            # persisted table per pair into a long-lived session
            row = row.localCheckpoint(eager=True)
            joint.unpersist(blocking=False)
        out = row if out is None else out.unionByName(row)
    return out
