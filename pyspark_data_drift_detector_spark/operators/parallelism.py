"""Input fan-out for row-explosion operators.

The shingle/n-gram/frame-sampling operators multiply their input ~10-1000×
inside the map stage (explode of per-row arrays). Parallelism of that map
stage is the INPUT's split count — and a small table (one parquet file, a
collected dimension, a sampled corpus slice) arrives as 1-2 splits, so the
most expensive part of the query runs on one core while the cluster idles;
the shuffle after the explode redistributes only the already-generated
rows.

``ensure_min_partitions`` repartitions UP (round-robin, no keys — rows are
about to be exploded and re-keyed anyway) only when the input has fewer
splits than the cluster's default parallelism. At production scale the
input arrives in thousands of file splits and this is an exact no-op — it
never repartitions DOWN and never touches an already-parallel input, so
100 TB scans are not reshuffled.

Two guards keep the fan-out from costing more than it saves:

* **Streaming inputs pass through untouched** — ``df.rdd`` would throw on a
  streaming DataFrame, and micro-batch parallelism is the source's problem.
* **Wide binary columns are never shuffled up.** For payload-carrying
  frames (multimodal decode), a round-robin repartition moves every payload
  byte across the wire to win parallelism that a small local input doesn't
  need — and at scale the payload column is the widest thing in the table,
  so the shuffle dwarfs the decode it tries to parallelize. Callers with
  binary columns should instead lower ``spark.sql.files.maxPartitionBytes``
  at read time so the *scan* arrives pre-split; ``ensure_min_partitions``
  refuses binary-typed frames unless ``allow_binary=True`` is passed
  explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, BinaryType


def _has_binary_column(df: DataFrame) -> bool:
    for f in df.schema.fields:
        t = f.dataType
        if isinstance(t, BinaryType):
            return True
        if isinstance(t, ArrayType) and isinstance(t.elementType, BinaryType):
            return True
    return False


def _parse_bytes(v: str) -> int:
    """Lenient Spark byte-string parse ("134217728", "134217728b", "128MB")."""
    s = str(v).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    mult = 1
    if s.endswith("b"):
        s = s[:-1]
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    return int(float(s)) * mult


def ensure_min_partitions(
    df: DataFrame, target: int | None = None, allow_binary: bool = False
) -> DataFrame:
    """Round-robin repartition to ``target`` (default: defaultParallelism)
    iff the input is plausibly under-split; otherwise return ``df``
    unchanged. Streaming frames and frames carrying binary columns are
    returned unchanged (see module docstring).

    The under-split check is PLAN-TIME: Catalyst's optimized-plan size
    estimate divided by ``spark.sql.files.maxPartitionBytes`` bounds how
    many splits the scan can have produced. The previous
    ``df.rdd.getNumPartitions()`` probe forced DataFrame→RDD conversion
    and full physical planning on the driver PER CALL — several
    round-trips per dedup/similarity query (the r4/r5 ADVICE carry-over);
    the estimate is one py4j call and runs no job. Trade-off: a small
    already-shuffled frame may be repartitioned once more (a few-KB
    exchange), while the old probe skipped it. A FAILED estimate fails
    toward repartitioning: the inputs this guard protects are exactly the
    plan-time-unknown small frames, and the worst case of a spurious
    repartition (one small exchange) is far cheaper than the worst case
    of skipping it (the explode stage running on one core).
    """
    if df.isStreaming:
        return df
    if not allow_binary and _has_binary_column(df):
        return df
    from pyspark_data_drift_detector_spark.plans.inspect import (
        try_estimated_size_bytes,
    )

    sess = df.sparkSession
    goal = target if target is not None else sess.sparkContext.defaultParallelism
    try:
        max_pb = _parse_bytes(
            sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
    except ValueError:
        max_pb = 128 << 20
    est = try_estimated_size_bytes(df)
    if est is None:
        return df.repartition(goal)
    est_splits = est // max(max_pb, 1) + 1
    if est_splits < goal:
        return df.repartition(goal)
    return df


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt_partitions: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with hot-key salting: the left (big, skewed) side scatters
    each row into one of ``salt_partitions`` salt slices; the right side
    replicates every row into ALL slices; the join runs on
    ``(keys..., salt)`` — a key whose rows would land in one reducer now
    spreads across ``salt_partitions`` tasks.

    Use when AQE's skew-join splitting can't help: AQE splits oversized
    SHUFFLE partitions of sort-merge joins, but a single monster key still
    meets all its right-side rows in one task when the right side is also
    large per key. Salting trades ``salt_partitions``× replication of the
    right side for even task sizes — so keep the right side the SMALLER
    input (flip the call for right-skew; for inner joins the result is
    symmetric). Results are identical to a plain join (each (left-row,
    right-row) key match meets in exactly one slice).

    ``how``: ``inner`` or ``left`` (left rows keep exactly one slice, so
    left-outer semantics survive salting; full/right outer would duplicate
    unmatched right rows across slices — rejected).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how!r}")
    if salt_partitions < 2:
        return left.join(right, on, how)
    from pyspark.sql import functions as F

    lsalt = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_partitions)).cast("int"),
    )
    rsalt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_partitions - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return lsalt.join(rsalt, [*on, "__salt"], how).drop("__salt")


def key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 10,
    materialize: bool = True,
) -> DataFrame:
    """Per-key-column skew diagnosis — the "should this join be salted?"
    numbers, computed BEFORE a join melts down: for each candidate key
    column, how concentrated its row counts are.

    Output (one row per column): ``n_rows, n_keys, max_count, max_share``
    (hottest key's row share — the fraction of the join that lands in
    one task), ``topk_share`` (share of the ``top_k`` hottest keys),
    ``hhi`` (Herfindahl index Σ share² — ``1/hhi`` is the effective
    number of keys a hash partitioner actually sees), ``skew_factor``
    (hottest key vs the mean key). NULL keys count as a real key — they
    hash to one reducer like any other hot value.

    Scale shape: the count table groups by ``(column, value)`` so no
    reducer sees more than one key's rows; the scalar moments (max, Σ,
    Σ²) partial-aggregate map-side; the top-k sum uses the same
    size-gated salted two-phase as ``frequency.with_top_k`` — a
    column's counts are never sorted in a single task unless the frame
    is plan-time small.

    ``materialize=True`` (default) eagerly localCheckpoints the
    O(columns) result so the internal count cache is released at call
    time; ``materialize=False`` returns the fully lazy plan (no persist,
    no checkpoint) — the composition/plan-inspection path, where the
    caller owns execution (the count subtree may then be scanned twice).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )
    from pyspark_data_drift_detector_spark.operators.frequency import _should_salt

    if not key_cols:
        raise ValueError("no key columns")
    ensure_safe_columns(key_cols)
    cells = df.selectExpr(
        "inline(array("
        + ", ".join(
            f"named_struct('column_name', '{c}', 'value', CAST(`{c}` AS STRING))"
            for c in key_cols
        )
        + "))"
    )
    from pyspark import StorageLevel

    # the count table feeds both the moment aggregate and the top-k pass;
    # their subtrees differ after column pruning so exchange reuse does
    # NOT dedupe them (verified: unpersisted, the executed plan re-scans
    # the raw table) — persist, then release below once the O(columns)
    # result is checkpointed
    counts = cells.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if materialize:
        counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    moments = counts.groupBy("column_name").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_keys"),
        F.expr("CAST(sum(cnt) AS BIGINT) AS n_rows"),
        F.expr("CAST(max(cnt) AS BIGINT) AS max_count"),
        F.expr("sum(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)) AS sumsq"),
    )
    order = [F.desc("cnt"), F.asc_nulls_first("value")]
    local = counts
    if _should_salt(counts):
        salt = F.pmod(F.xxhash64(F.col("value")), F.lit(32))
        wlocal = Window.partitionBy("column_name", salt).orderBy(*order)
        local = counts.withColumn("__lrn", F.row_number().over(wlocal)).filter(
            F.col("__lrn") <= top_k
        )
    wglobal = Window.partitionBy("column_name").orderBy(*order)
    topk = (
        local.withColumn("__rn", F.row_number().over(wglobal))
        .filter(F.col("__rn") <= top_k)
        .groupBy("column_name")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT) AS topk_count"))
    )
    out = moments.join(topk, "column_name").selectExpr(
        "column_name",
        "n_rows",
        "n_keys",
        "max_count",
        "max_count / n_rows AS max_share",
        "topk_count / n_rows AS topk_share",
        "sumsq / (CAST(n_rows AS DOUBLE) * n_rows) AS hhi",
        "(CAST(n_rows AS DOUBLE) * n_rows) / sumsq AS effective_keys",
        "max_count / (n_rows / CAST(n_keys AS DOUBLE)) AS skew_factor",
    )
    if materialize:
        # O(columns) rows: materialize eagerly (cutting lineage) so the
        # count cache can be released NOW instead of leaking into the
        # session
        out = out.localCheckpoint(eager=True)
        counts.unpersist(blocking=False)
    return out


def join_explosion_profile(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Pre-join blow-up diagnosis: the EXACT inner-join output size and
    where it comes from, computed from the two sides' key-count tables
    WITHOUT running the join — ``Σ_k n_left(k)·n_right(k)``. A
    many-to-many key (two "fact" tables joined on a low-cardinality
    column) multiplies instead of matching; this panel is the "will this
    join emit 10^12 rows?" check that costs two groupBys instead of a
    melted cluster.

    Output (one row): ``left_rows, right_rows, matched_keys,
    output_rows, amplification`` (output vs the larger input),
    ``max_key_output`` (hottest key's contribution — the single-reducer
    load), ``max_key_share``, ``many_to_many_keys`` (keys with > 1 row
    on BOTH sides — each one a multiplier).

    Scale shape: one ``groupBy(keys)`` count per side (map-side
    combine), an inner join of the two O(distinct) count tables keyed by
    the join key (no hot reducer — counts, not rows), one scalar
    aggregate. NULL keys are excluded, matching inner-join semantics.
    """
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    if not key_cols:
        raise ValueError("no key columns")
    ensure_safe_columns(key_cols)
    non_null = " AND ".join(f"`{c}` IS NOT NULL" for c in key_cols)

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.where(non_null)
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias(alias))
        )
    lc = counts(left, "nl")
    rc = counts(right, "nr")
    # per-key products and their sum carry as DECIMAL(38,0): two 4e9-row
    # sides on one key give nl*nr = 1.6e19 > BIGINT max — exactly the
    # catastrophic regime this profiler exists to detect; a wrapped
    # negative sum would report "no explosion" for the worst inputs
    pairs = lc.join(rc, key_cols).selectExpr(
        "CAST(nl AS BIGINT) AS nl",
        "CAST(nr AS BIGINT) AS nr",
        "CAST(nl AS DECIMAL(38, 0)) * nr AS out_k",
    )
    totals = left.selectExpr(
        f"CAST(count_if({non_null}) AS BIGINT) AS left_rows"
    ).crossJoin(
        right.selectExpr(
            f"CAST(count_if({non_null}) AS BIGINT) AS right_rows"
        )
    )
    agg = pairs.groupBy().agg(
        F.expr("count(1) AS matched_keys"),
        # try_cast: beyond ~9.2e18 the exact count no longer fits a long —
        # emit NULL ("too big to count") while amplification/share below
        # stay correct from the decimal
        F.expr("try_cast(coalesce(sum(out_k), 0) AS BIGINT) AS output_rows"),
        F.expr(
            "try_cast(coalesce(max(out_k), 0) AS BIGINT) AS max_key_output"
        ),
        F.expr(
            "CAST(coalesce(sum(out_k), 0) AS DOUBLE) AS __out_d"
        ),
        F.expr(
            "CAST(coalesce(max(out_k), 0) AS DOUBLE) AS __max_d"
        ),
        F.expr(
            "CAST(coalesce(sum(CAST(nl > 1 AND nr > 1 AS BIGINT)), 0)"
            " AS BIGINT) AS many_to_many_keys"
        ),
    )
    return totals.crossJoin(agg).selectExpr(
        "left_rows",
        "right_rows",
        "matched_keys",
        "output_rows",
        "__out_d / greatest(left_rows, right_rows, 1) AS amplification",
        "max_key_output",
        "__max_d / greatest(__out_d, 1.0D) AS max_key_share",
        "many_to_many_keys",
    )
