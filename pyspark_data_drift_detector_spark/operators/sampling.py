"""Deterministic sampling operators for training-data pipelines.

Cluster-scale sampling must be (a) reproducible across reruns and
executors — no ``rand()``, whose per-task seeding changes with the
partition layout — and (b) shuffle-free. Both operators here derive a
uniform variate from a cryptographic hash of the row's stable id
(``u = md5₆₀(id ‖ salt) mod 10⁶``), so membership is a pure projection:
the same row lands in the same sample/split on any cluster, any
partitioning, any day. The md5-derived variate also replays exactly in
the DuckDB oracle (same trick as ``dedup.md5_hash60``); swap in
``xxhash64`` for production throughput — the plan is unchanged.

- ``stratified_sample`` — per-stratum target counts: a tiny
  ``groupBy(strata)`` count (one narrow aggregate over the strata columns
  only) is broadcast back as per-stratum acceptance rates; the corpus
  side filters without shuffling. The standard way to rebalance a
  source/language mixture before training.
- ``hash_split`` — train/validation/test assignment from cumulative
  fraction cut-points over the same variate. A projection; zero jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.dedup import md5_hash60

_U_MOD = 1_000_000


def uniform_variate(id_col: Column, salt: str) -> Column:
    """Deterministic uniform integer in [0, 10⁶) from a stable id."""
    return md5_hash60(F.concat_ws("|", id_col.cast("string"), F.lit(salt))) % _U_MOD


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    target_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Deterministic ≈``target_per_stratum``-row sample from every stratum.

    Acceptance rate per stratum = min(1, target / stratum_count); a row is
    kept iff ``u < floor(rate·10⁶)``. Expected sample size per stratum is
    the target (exact for strata at or under target — rate 1 keeps all).
    The stratum-count table is O(#strata) — broadcast; the data side is
    scan → join(broadcast) → filter, no shuffle of the corpus.

    Output: the sampled rows plus ``stratum_count`` and ``sample_rate``.
    """
    counts = df.groupBy(*strata).agg(F.count(F.lit(1)).alias("stratum_count"))
    rates = counts.withColumn(
        "sample_rate",
        F.least(F.lit(1.0), F.lit(float(target_per_stratum)) / F.col("stratum_count")),
    )
    u = uniform_variate(F.col(id_col), salt)
    return (
        df.join(F.broadcast(rates), strata)
        .filter(u < F.floor(F.col("sample_rate") * _U_MOD))
        .withColumn("stratum_count", F.col("stratum_count").cast("long"))
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    Efraimidis–Spirakis (2006) A-Res scheme: each row gets key
    ``ln(u) / w`` with ``u`` the hash-derived uniform and ``w`` its
    (positive) weight; the k largest keys ARE a weighted sample without
    replacement. The standard way to oversample long/high-quality
    documents reproducibly (same rows win on any cluster layout).

    The top-k is ``orderBy(key).limit(k)`` — Spark plans it as
    TakeOrderedAndProject: each partition keeps a k-row heap and only
    those k·partitions rows merge, never a global sort. Driver state is
    O(k); the corpus never shuffles. Output: the sampled rows plus
    ``sample_key``.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    u = (uniform_variate(F.col(id_col), salt) + 0.5) / _U_MOD
    key = F.log(u) / F.col(weight_col)
    return (
        # zero-weight rows can never win (key -> -inf) but their 0
        # denominator aborts the job under ANSI mode — drop them, which
        # is the identical sample; NULL weights already sort last
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative hash cut-points.

    ``fractions`` maps split name → fraction (must sum to ≤ 1; any
    remainder falls into the last split). Pure projection — stable under
    repartitioning, appends of new rows never move old rows between
    splits (the property ``randomSplit`` lacks).
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    if any(f < 0 for f in fractions.values()):
        raise ValueError(f"negative split fraction in {fractions!r}")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(
            f"split fractions sum to {total}, which exceeds 1 — later splits "
            "would silently receive no rows"
        )
    u = uniform_variate(F.col(id_col), salt)
    names = list(fractions)
    cum = 0.0
    expr = F.lit(names[-1])
    cuts: list[tuple[str, int]] = []
    for name in names[:-1]:
        cum += fractions[name]
        cuts.append((name, int(cum * _U_MOD)))
    for name, cut in reversed(cuts):
        expr = F.when(u < cut, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "cap",
    salt_partitions: int | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by deterministic hash
    order — the "at most N documents per domain" cap that balances a
    training corpus.

    Selection order is ``(uniform_variate(id), id)``: layout-independent
    (the same rows win on any partitioning or append order) and unbiased
    within the group. The rank runs the size-gated two-phase shape of
    ``frequency.with_top_k``: large frames first rank per
    ``(group, salt-slice)`` and keep each slice's top ``n`` (any global
    top-``n`` row is in its slice's local top-``n``), so no task ever
    sorts a whole hot group; the exact rank then runs over the ≤ n·S
    survivors. Small frames (per the same Catalyst size estimate) take
    one direct window.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns
    from pyspark_data_drift_detector_spark.operators.frequency import _should_salt

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if n < 1:
        raise ValueError("n must be >= 1")
    ensure_safe_columns(group_cols + [id_col])
    if salt_partitions is None:
        salt_partitions = 32 if _should_salt(df) else 1
    u = uniform_variate(F.col(id_col), salt)
    ranked = df.withColumn("__u", u)
    order = [F.asc("__u"), F.asc(id_col)]
    from pyspark.sql import Window

    if salt_partitions > 1:
        wlocal = Window.partitionBy(
            *group_cols, F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_partitions))
        ).orderBy(*order)
        ranked = ranked.withColumn("__lrn", F.row_number().over(wlocal)).filter(
            F.col("__lrn") <= n
        )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__u", "__rn", "__lrn")
    )


def temperature_sample(
    df: DataFrame,
    strata: list[str],
    total_target: int,
    alpha: float = 0.3,
    id_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture rebalancing — the multilingual-corpus
    sampler (mT5/XLM-R style): stratum ``i`` with share ``p_i`` is
    sampled toward ``q_i ∝ p_i^α`` (``α < 1`` upsamples the tail
    relative to the head; ``α = 1`` keeps proportions; ``α = 0`` targets
    uniform), scaled so the expected total is ``total_target``.

    Per-stratum acceptance rate ``min(1, q_i·total / n_i)`` over the
    deterministic hash variate — the ``stratified_sample`` shape: one
    tiny ``groupBy(strata)`` count broadcast back, corpus never shuffled,
    membership layout/append independent. Strata at rate 1 keep all
    rows, so the realized total can undershoot when the tail saturates
    (the standard behavior; raise α or the target).

    Output: sampled rows + ``stratum_count, mix_weight, sample_rate``.
    """
    if total_target <= 0:
        raise ValueError("total_target must be positive")
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = df.groupBy(*strata).agg(F.count(F.lit(1)).alias("stratum_count"))
    # q_i = n_i^alpha / sum_j n_j^alpha — computed over the O(#strata)
    # counts table; the cross-joined total is one row
    tot = counts.agg(
        F.sum(F.pow(F.col("stratum_count").cast("double"), F.lit(float(alpha)))).alias(
            "__z"
        )
    )
    rates = counts.crossJoin(F.broadcast(tot)).selectExpr(
        *strata,
        "CAST(stratum_count AS BIGINT) AS stratum_count",
        f"power(CAST(stratum_count AS DOUBLE), {float(alpha)!r}D) / __z AS mix_weight",
        f"least(1.0D, power(CAST(stratum_count AS DOUBLE), {float(alpha)!r}D) / __z"
        f" * {float(total_target)!r}D / stratum_count) AS sample_rate",
    )
    u = uniform_variate(F.col(id_col), salt)
    return df.join(F.broadcast(rates), strata).filter(
        u < F.floor(F.col("sample_rate") * _U_MOD)
    )


def mix_sample(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "mix",
    weight_col: str | None = None,
) -> DataFrame:
    """Rebalance a corpus to an EXPLICIT target group mixture by
    downsampling only — the "data mixing" step of a training-data
    pipeline (e.g. "train on 40% web, 30% code, 30% books" regardless of
    what the crawl delivered). Where ``temperature_sample`` derives the
    target mix from the observed one (``p^α``), this operator takes the
    mix as a spec.

    Downsampling-only means the achievable total is capped by the
    scarcest group relative to its target: ``N_max = min_g n_g / t_g``,
    and each group keeps ``rate_g = t_g · N_max / n_g ≤ 1`` of its rows
    (the binding group keeps everything). Expected output mix is exactly
    ``target_shares``; expected size is ``N_max``. With ``weight_col``
    (e.g. token counts), group masses are weight sums instead of row
    counts and the EXPECTED WEIGHT mix matches the target — the
    token-budget variant every LM data recipe actually specifies.

    Membership is the deterministic hash variate (``u < rate·10⁶``) —
    reproducible on any cluster layout, appends never move old rows.
    Plan: one tiny ``groupBy(group_col)`` aggregate joined with the
    inlined target table, broadcast back; the corpus side is
    scan → broadcast-join → filter, never shuffled.

    Groups absent from ``target_shares`` (including NULL) are dropped —
    a share-0 group. A target group absent from the data — or with zero
    mass (all weights 0/NULL in weight mode) — contributes no rows and
    does not constrain the cap (the realized mix then undershoots that
    group; the caller sees it via the ``group_count`` column of the
    survivors).

    Output: sampled rows + ``group_count`` (rows or weight sum),
    ``target_share``, ``sample_rate``.
    """
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if any(v <= 0 for v in target_shares.values()):
        raise ValueError(
            "every target share must be > 0 — omit a group to drop it"
        )
    if None in target_shares:
        raise ValueError("NULL group cannot carry a target share")
    total = sum(target_shares.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target shares sum to {total}, expected 1")
    mass = (
        F.count(F.lit(1)).cast("double")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("double"))
    )
    # a targeted group whose mass is 0 (no rows, or all weights 0/NULL
    # in weight mode) is treated as absent from the data — keeping it
    # would pin N_max to 0 and (under ANSI mode) abort on the 0/0 rate
    counts = df.groupBy(group_col).agg(mass.alias("__mass")).filter(
        "__mass > 0"
    )
    targets = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in target_shares.items()],
        [group_col, "target_share"],
    )
    joined = counts.join(F.broadcast(targets), group_col, "inner")
    nmax = joined.agg(
        F.min(F.col("__mass") / F.col("target_share")).alias("__nmax")
    )
    rates = joined.crossJoin(F.broadcast(nmax)).select(
        group_col,
        F.col("__mass").cast("bigint").alias("group_count"),
        "target_share",
        F.least(
            F.lit(1.0),
            F.col("target_share") * F.col("__nmax") / F.col("__mass"),
        ).alias("sample_rate"),
    )
    u = uniform_variate(F.col(id_col), salt)
    return df.join(F.broadcast(rates), group_col, "inner").filter(
        u < F.floor(F.col("sample_rate") * _U_MOD)
    )


def mix_sample_epochs(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "mix",
    weight_col: str | None = None,
    max_epochs: float = 16.0,
) -> DataFrame:
    """Rebalance to an explicit target mixture allowing REPETITION — the
    upsampling sibling of :func:`mix_sample`. LM data recipes routinely
    repeat scarce high-quality sources for multiple epochs ("4 passes
    over books, 0.5 over web") rather than discarding web mass to match
    them; this operator emits each row ``epochs_g`` times in
    expectation, where ``epochs_g = target_share_g · total_mass /
    mass_g`` and ``total_mass`` is the targeted groups' combined input
    mass — so the expected OUTPUT mass equals the input mass with the
    mix exactly on target (downsampled groups get ``epochs < 1``).

    Each row emits ``floor(epochs)`` whole copies plus one extra iff its
    deterministic variate clears the fractional part — reproducible on
    any layout, appends never re-roll old rows. ``copy_idx`` (0-based)
    distinguishes the repeats so downstream packing/shuffling sees
    distinct rows. ``weight_col`` switches masses to weight sums (token
    budgets), the form recipes actually pin.

    ``max_epochs`` caps the repeat factor (quality-data folklore caps
    repetition well below ~dozens of epochs; a near-empty group would
    otherwise explode). A capped group undershoots its target share —
    visible to the caller via the ``epochs`` column sitting at the cap.

    Scale shape: one tiny ``groupBy(group_col)`` mass aggregate,
    broadcast back; the corpus side is scan → broadcast-join →
    ``explode(sequence(...))`` — a narrow fan-out bounded by
    ``ceil(epochs)``, never a shuffle of the corpus.
    """
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if any(v <= 0 for v in target_shares.values()):
        raise ValueError(
            "every target share must be > 0 — omit a group to drop it"
        )
    if None in target_shares:
        raise ValueError("NULL group cannot carry a target share")
    total = sum(target_shares.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target shares sum to {total}, expected 1")
    if max_epochs < 1.0:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    mass = (
        F.count(F.lit(1)).cast("double")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("double"))
    )
    counts = df.groupBy(group_col).agg(mass.alias("__mass")).filter(
        "__mass > 0"
    )
    targets = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in target_shares.items()],
        [group_col, "target_share"],
    )
    joined = counts.join(F.broadcast(targets), group_col, "inner")
    tot = joined.agg(F.sum("__mass").alias("__tot"))
    rates = joined.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.col("__mass").cast("bigint").alias("group_count"),
        "target_share",
        F.least(
            F.lit(float(max_epochs)),
            F.col("target_share") * F.col("__tot") / F.col("__mass"),
        ).alias("epochs"),
    )
    u = uniform_variate(F.col(id_col), salt)
    return (
        df.join(F.broadcast(rates), group_col, "inner")
        .withColumn(
            "copy_idx",
            F.explode(
                F.sequence(
                    F.lit(0), F.ceil(F.col("epochs")).cast("int") - 1
                )
            ),
        )
        .filter(
            (F.col("copy_idx") < F.floor(F.col("epochs")))
            | (
                (F.col("copy_idx") == F.floor(F.col("epochs")))
                & (
                    u
                    < F.floor(
                        (F.col("epochs") - F.floor(F.col("epochs")))
                        * _U_MOD
                    )
                )
            )
        )
    )


def uniform_sample_k(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "usample",
) -> DataFrame:
    """Deterministic fixed-size uniform sample without replacement — the
    distributed equivalent of reservoir sampling: every row gets a
    hash-derived uniform variate and the ``k`` smallest variates ARE a
    uniform k-sample (each row equally likely at every corpus size).

    Unlike ``df.sample(fraction)`` the size is EXACTLY ``k``, and unlike
    a reservoir the membership is layout-independent and reproducible:
    re-running on a re-partitioned, re-ordered, or appended corpus keeps
    every surviving row that still ranks in the top k. The plan is
    TakeOrderedAndProject (per-partition k-row heaps, O(k·partitions)
    merge) — the corpus never shuffles and driver state is O(k).

    Ties (hash collisions in the 10⁶-bucket variate) break on the id, so
    the sample is total-ordered and engine-portable. Output: the sampled
    rows plus ``sample_u`` (the variate, for stratification audits).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([id_col])
    if k <= 0:
        raise ValueError("k must be positive")
    u = uniform_variate(F.col(id_col), salt)
    return (
        df.withColumn("sample_u", u)
        .orderBy(F.col("sample_u").asc(), F.col(id_col).asc())
        .limit(k)
    )


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
    token_budget: int,
    text_col: str = "text",
    token_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "tokbudget",
) -> DataFrame:
    """Mixture sampling toward a TOKEN budget — the pretraining data-mix
    step ("30% code, 70% web, by tokens"): each group ``g`` with target
    share ``targets[g]`` is sampled at rate ``min(1, targets[g]·budget /
    tokens_g)``, so the EXPECTED sampled token mass per group is
    ``min(tokens_g, targets[g]·budget)`` (a group short of its
    allocation keeps everything — the standard saturation behavior; the
    realized total then undershoots the budget). Groups absent from
    ``targets`` are dropped — the mixture spec is exhaustive by design.

    Rows, not fractions of rows, are sampled: acceptance is independent
    of document length given the group, so the expectation over TOKENS
    equals rate·tokens_g exactly. Deterministic hash-variate acceptance
    (the ``stratified_sample`` convention) keeps membership stable
    across layouts, appends, and re-runs.

    Scale shape: one ``groupBy(group)`` token-total aggregate
    (O(groups), broadcast back) + a narrow filter over the corpus — the
    corpus itself is never shuffled. ``token_col`` supplies a real
    tokenizer's counts; default is the whitespace token count.

    Output: sampled rows (``id_col, group_col, n_tokens``) plus
    ``group_tokens, target_tokens, sample_rate``.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
        qs,
    )
    from pyspark_data_drift_detector_spark.operators.text import tokens_expr

    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    if not targets:
        raise ValueError("no targets")
    bad = [g for g, s in targets.items() if s < 0]
    if bad:
        raise ValueError(f"negative target shares: {bad}")
    ensure_safe_columns([group_col, id_col, token_col or text_col])
    toks = (
        F.col(token_col).cast("long")
        if token_col is not None
        else F.size(tokens_expr(F.col(text_col))).cast("long")
    )
    docs = df.select(
        F.col(id_col), F.col(group_col), toks.alias("n_tokens")
    )
    totals = docs.groupBy(group_col).agg(
        F.expr("CAST(sum(n_tokens) AS BIGINT) AS group_tokens")
    )
    share = "CASE " + " ".join(
        f"WHEN CAST(`{group_col}` AS STRING) = {qs(str(g))}"
        f" THEN {float(s)!r}D"
        for g, s in sorted(targets.items())
    ) + " END"
    # least() skips NULL operands, so the absent-group filter must test
    # the share itself, not the computed rate
    rates = totals.where(f"{share} IS NOT NULL").selectExpr(
        f"`{group_col}`",
        "group_tokens",
        f"{share} * {float(token_budget)!r}D AS target_tokens",
        f"least(1.0D, {share} * {float(token_budget)!r}D"
        " / greatest(group_tokens, 1)) AS sample_rate",
    )
    u = uniform_variate(F.col(id_col), salt)
    return docs.join(F.broadcast(rates), group_col).filter(
        u < F.floor(F.col("sample_rate") * _U_MOD)
    )
