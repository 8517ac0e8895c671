"""Temporal drift: the analyzer the reference promises but never ships.

The reference classifies columns as ``temporal`` (``column_analyzer.py:
92-93,121-131``) and its architecture document advertises a "Temporal"
analyzer cell (``data_drift_detector_architecture.md:716-718``), but no
temporal analysis exists anywhere in its code — temporal columns are
inferred and then silently dropped from every family. This module fills
that gap with the analysis such a cell implies, engine-style:

ONE side-tagged wide aggregate computes, for every temporal column and
both sides at once: row/null counts, min/max/mean event time, and the
7-bucket day-of-week histogram (conditional sums — no extra shuffle).
Everything downstream is expression math over the exploded long table:

- ``mean_shift_days`` — how far the center of time mass moved;
- ``range_change`` — relative change of the covered time span;
- ``dow_js`` — Jensen-Shannon distance (log2) between day-of-week
  distributions, catching weekday/weekend mix shifts;
- ``null_ratio_change``.

Detection: |mean shift| > ``mean_shift_days_threshold`` OR dow JS >
``js_threshold`` OR null-ratio change > ``null_threshold``. All math is
plain SQL arithmetic, so the driver query replays in the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400.0

#: The one session-gap default, shared by the batch operator and the
#: streaming twin (streaming/sessions.py) so a gap-rule change can never
#: split batch and streaming semantics. The RULE itself has a single
#: definition too: both paths run the same ``sessionize`` expression
#: (``F.session_window`` strict-greater merge), pinned by
#: test_streaming_sessions' batch-parity check.
DEFAULT_SESSION_GAP = "4 hours"


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = DEFAULT_SESSION_GAP,
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization of an event stream: consecutive events of
    one key belong to the same session while each inter-event gap is
    strictly under ``gap``; a gap ≥ ``gap`` starts a new session (the
    merge rule of Spark's ``session_window`` — windows ``[t, t+gap)``
    merge only when they genuinely overlap).

    Built on ``F.session_window`` so the identical expression runs in a
    ``readStream`` groupBy for the streaming twin (watermark + session
    windows), and in batch plans as ONE shuffle on the session key with
    map-side partial merging — no per-key sort window, no lag/cumsum
    two-pass. Output per session: ``key, session_start, session_end``
    (min/max event time), ``n_events, total_value, duration_sec``.
    """
    sess = df.groupBy(key_col, F.session_window(F.col(ts_col), gap)).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(value_col).alias("total_value"),
    )
    return sess.select(
        key_col,
        "session_start",
        "session_end",
        "n_events",
        "total_value",
        # integer microsecond subtraction before the one float division —
        # exact, and replays bit-identically in SQL (epoch_us twin)
        (
            (F.unix_micros("session_end") - F.unix_micros("session_start")) / F.lit(1e6)
        ).alias("duration_sec"),
    )


def temporal_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    columns: list[str],
    mean_shift_days_threshold: float = 7.0,
    js_threshold: float = 0.1,
    null_threshold: float = 0.01,
) -> DataFrame:
    """Per-column temporal drift between two snapshots, one job.

    ``columns`` are read as ``try_cast(... AS TIMESTAMP)``: a value that
    does not parse counts as NULL. A string column typed temporal from a
    sample may hold such values, and a hard cast would raise on them
    under ANSI mode. Output (one row per column):
    ``column_name, ref_n, curr_n, ref_min, ref_max, curr_min, curr_max``
    (epoch seconds, double), ``mean_shift_days, range_change,
    null_ratio_change, dow_js, drift_detected, drift_causes``.
    """
    if not columns:
        raise ValueError("no temporal columns to analyze")
    sides = {"ref": "r", "curr": "c"}
    tagged = df_ref.select(F.lit("r").alias("__side"), *columns).unionByName(
        df_curr.select(F.lit("c").alias("__side"), *columns)
    )
    # SQL-string assembly: one selectExpr call per aggregate list instead of
    # ~10 py4j round-trips per expression (see the profile module docstring)
    aggs: list[str] = []
    for pre, tag in sides.items():
        cond = f"__side = '{tag}'"
        aggs.append(f"sum(CAST({cond} AS BIGINT)) AS `__{pre}_rows`")
        for c in columns:
            ts = f"try_cast(`{c}` AS TIMESTAMP)"
            ep = f"CASE WHEN {cond} THEN CAST({ts} AS DOUBLE) END"
            aggs += [
                f"count({ep}) AS `{pre}__{c}__n`",
                f"sum(CAST(({cond} AND {ts} IS NULL) AS BIGINT)) AS `{pre}__{c}__nulls`",
                f"min({ep}) AS `{pre}__{c}__min`",
                f"max({ep}) AS `{pre}__{c}__max`",
                f"avg({ep}) AS `{pre}__{c}__mean`",
            ]
            # Spark dayofweek is 1=Sunday; −1 aligns with DuckDB's 0-based dow
            for d in range(7):
                aggs.append(
                    f"sum(CAST(({cond} AND dayofweek({ts}) - 1 = {d}) AS BIGINT))"
                    f" AS `{pre}__{c}__dow{d}`"
                )
    wide = tagged.selectExpr(*aggs)

    structs = []
    for c in columns:
        fields = [f"'column_name', '{c}'"]
        for pre in sides:
            fields += [
                f"'{pre}_n', `{pre}__{c}__n`",
                f"'{pre}_null_ratio', `{pre}__{c}__nulls` / greatest(`__{pre}_rows`, 1)",
                f"'{pre}_min', `{pre}__{c}__min`",
                f"'{pre}_max', `{pre}__{c}__max`",
                f"'{pre}_mean', `{pre}__{c}__mean`",
            ]
            fields += [
                f"'{pre}_dow{d}', `{pre}__{c}__dow{d}` / greatest(`{pre}__{c}__n`, 1)"
                for d in range(7)
            ]
        structs.append("named_struct(" + ", ".join(fields) + ")")
    long = wide.selectExpr("inline(array(" + ", ".join(structs) + "))")

    mean_shift = f"((curr_mean - ref_mean) / {SECONDS_PER_DAY!r}D)"
    range_change = (
        "(CASE WHEN ref_max - ref_min > 0"
        " THEN ((curr_max - curr_min) - (ref_max - ref_min)) / (ref_max - ref_min)"
        " ELSE CASE WHEN curr_max - curr_min > 0 THEN 1.0D ELSE 0.0D END END)"
    )
    null_change = "abs(curr_null_ratio - ref_null_ratio)"

    js_terms = []
    for d in range(7):
        p, q = f"ref_dow{d}", f"curr_dow{d}"
        m = f"(({p} + {q}) / 2)"
        js_terms.append(
            f"CASE WHEN {p} > 0 AND {m} > 0 THEN {p} * log2({p} / {m}) ELSE 0.0D END"
        )
        js_terms.append(
            f"CASE WHEN {q} > 0 AND {m} > 0 THEN {q} * log2({q} / {m}) ELSE 0.0D END"
        )
    dow_js = f"sqrt(greatest(0.0D, ({' + '.join(js_terms)}) / 2))"

    mean_flag = f"abs({mean_shift}) > {float(mean_shift_days_threshold)!r}D"
    js_flag = f"{dow_js} > {float(js_threshold)!r}D"
    null_flag = f"{null_change} > {float(null_threshold)!r}D"
    causes = ", ".join(
        f"CASE WHEN {flag} THEN '{name}' END"
        for flag, name in (
            (mean_flag, "mean_time_shift"),
            (js_flag, "day_of_week_shift"),
            (null_flag, "null_ratio"),
        )
    )
    return long.selectExpr(
        "column_name",
        "CAST(ref_n AS BIGINT) AS ref_n",
        "CAST(curr_n AS BIGINT) AS curr_n",
        "ref_min",
        "ref_max",
        "curr_min",
        "curr_max",
        f"{mean_shift} AS mean_shift_days",
        f"{range_change} AS range_change",
        f"{null_change} AS null_ratio_change",
        f"{dow_js} AS dow_js",
        f"({mean_flag}) OR ({js_flag}) OR ({null_flag}) AS drift_detected",
        f"array_compact(array({causes})) AS drift_causes",
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    by: str = "user_id",
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_sec: float | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Distributed as-of join: attach to every left row the latest right
    row at-or-before its timestamp (``direction="backward"``, inclusive —
    DuckDB/pandas ``merge_asof`` semantics), or the earliest at-or-after
    (``"forward"``), per ``by`` key.

    Spark has no native as-of join; the classic workaround — a range
    join ``l.ts >= r.ts`` + per-left-row max — explodes O(|right per
    key|) rows per left row. Here instead both sides are UNIONED and a
    single running ``last(value, ignorenulls=True)`` window over
    ``(key, ts)`` carries each right row's values forward to the left
    rows that follow it: ONE shuffle on the key, no row explosion, and
    the window frame is running (Spark evaluates it streamingly within
    the sorted partition — state is O(1) per value column, though the
    sort itself is per-key; keys are the series identity, so per-key
    volume is the series length, the same shape ``sessionize`` carries).

    Requirements: ``(by, ts_col)`` must uniquely identify right rows
    (pre-aggregate duplicates upstream — with ties the winning row would
    be nondeterministic in ANY as-of engine). Left rows with no match get
    NULLs (left-join semantics). ``tolerance_sec`` nulls matches further
    than the tolerance from the left timestamp.

    Output: every left column, plus ``<value_col><suffix>`` for each
    right value column and ``<ts_col><suffix>`` (the matched right
    timestamp).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (ts_col, by)]
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns([ts_col, by, *value_cols])

    matched_ts = f"{ts_col}{suffix}"
    # ONE struct per right row carries the matched timestamp and every
    # value column together: a per-column last(ignorenulls) would fill a
    # NULL-valued column from an OLDER right row while ts_asof reports
    # the newer match — torn rows diverging from pandas/DuckDB merge_asof
    # (which keeps the matched row's NULLs). The struct itself is never
    # NULL for a right row, so one last(ignorenulls) carries the whole
    # row atomically (and runs one window expression instead of N+1).
    r = right.select(
        F.col(by),
        F.col(ts_col),
        F.struct(
            F.col(ts_col).alias(matched_ts),
            *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
        ).alias("__rrow"),
        F.lit(0).alias("__src"),
    )
    l = left.withColumn("__src", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    # backward: ascending time, right rows (src 0) before left at equal ts
    # → inclusive; forward: descending time, same tiebreak → earliest
    # at-or-after. The frame is running (unbounded preceding → current).
    order = (
        [F.col(ts_col).asc(), F.col("__src").asc()]
        if direction == "backward"
        else [F.col(ts_col).desc(), F.col("__src").asc()]
    )
    w = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [matched_ts] + [f"{c}{suffix}" for c in value_cols]
    out = u.select(
        "*", F.last("__rrow", ignorenulls=True).over(w).alias("__c")
    ).filter(F.col("__src") == 1)
    out = out.select(
        *[c for c in left.columns],
        *[F.col(f"__c.{c}").alias(c) for c in carried],
    )
    if tolerance_sec is not None:
        delta = (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col(matched_ts))
            if direction == "backward"
            else F.unix_micros(F.col(matched_ts)) - F.unix_micros(F.col(ts_col))
        ) / F.lit(1e6)
        keep = delta <= F.lit(float(tolerance_sec))
        out = out.select(
            *[c for c in left.columns],
            *[
                F.when(keep, F.col(c)).alias(c)
                for c in carried
            ],
        )
    return out


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    by: str = "user_id",
    start_col: str = "session_start",
    end_col: str = "session_end",
    bucket: str = "1 hour",
) -> DataFrame:
    """Join point events to containing intervals (``start ≤ ts ≤ end``)
    per key — the "which session does this event belong to" join.

    Spark plans a raw ``l.key = r.key AND l.ts BETWEEN r.start AND r.end``
    as an equi-join on the key with the range as a post-filter — fine
    until one hot key makes a task compare every event × every interval
    of that key. The classic scale shape used here: intervals EXPLODE
    into the fixed-width time buckets they overlap, events map to their
    single bucket, and the join runs on ``(key, bucket)`` — each task
    compares an event only against the intervals overlapping its bucket
    (O(intervals per bucket), not O(intervals per key)). ``bucket``
    should be on the order of the typical interval length: wider wastes
    comparisons, narrower multiplies the interval-side fan-out (a
    ``bucket``-length interval explodes into ≤ 2 rows).

    Unmatched events are dropped (inner join); an event inside two
    overlapping intervals of one key matches both — dedupe upstream if
    intervals are meant to partition time.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns([ts_col, by, start_col, end_col])
    bucket_us = f"(unix_micros(CAST('1970-01-01' AS TIMESTAMP) + INTERVAL {bucket}))"
    ev = events.selectExpr(
        "*", f"unix_micros(`{ts_col}`) div {bucket_us} AS __bucket"
    )
    iv = intervals.selectExpr(
        "*",
        f"explode(sequence(unix_micros(`{start_col}`) div {bucket_us},"
        f" unix_micros(`{end_col}`) div {bucket_us})) AS __bucket",
    )
    joined = ev.join(iv, [by, "__bucket"]).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    )
    return joined.drop("__bucket")


def cusum_changepoint(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    by: str = "user_id",
    tiebreak_col: str | None = None,
    k: float = 0.5,
    h: float = 5.0,
    baseline: DataFrame | None = None,
) -> DataFrame:
    """Per-key CUSUM change-point detection over a time-ordered series.

    Two-sided CUSUM on the z-normalized series (per-key mean/stddev_pop):
    ``S⁺_t = max(0, S⁺_{t-1} + z_t − k)`` and the mirrored ``S⁻``. The
    nonlinear max(0,·) recursion has a closed window form — with
    ``C_t = Σ_{j≤t}(z_j − k)``, ``S⁺_t = C_t − min_{j≤t} C_j`` (and S⁻
    from the mirrored series) — so the whole detector is running-sum +
    running-min windows: pure expression algebra, no UDF, no iteration,
    and the DuckDB oracle replays it bit-for-bit. An alarm fires when
    either side exceeds ``h`` (in σ units; ``k`` is the slack per step,
    conventionally ½ the shift to detect).

    One shuffle on the key; each key's series sorts in one task (the
    series-per-key shape of ``sessionize``/``asof_join`` — a key IS the
    unit of sequential time here). ``tiebreak_col`` makes the order total
    when timestamps can repeat. Output per key: ``n, mean, std,
    max_cusum_pos, max_cusum_neg, alarm, first_alarm_ts``.

    ``baseline``: optional ``(by, mu, sigma)`` frame to normalize against
    fixed reference statistics instead of the series' own — the
    monitoring setup (baseline from a trusted window, scan the live
    series), and the exact semantics the streaming twin
    (``streaming.profiles.stateful_cusum``) runs, so batch and streaming
    alarms compare one-to-one.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import ensure_safe_columns

    ensure_safe_columns([value_col, ts_col, by] + ([tiebreak_col] if tiebreak_col else []))
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    wkey = Window.partitionBy(by)
    wrun = wkey.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)

    v = F.col(value_col).cast("double")
    base = df.select(
        by, ts_col, *( [tiebreak_col] if tiebreak_col else [] ),
        v.alias("__v"),
    ).where(v.isNotNull())
    if baseline is not None:
        stats = base.join(
            F.broadcast(
                baseline.select(
                    by, F.col("mu").alias("__mu"), F.col("sigma").alias("__sigma")
                )
            ),
            by,
        )
        return _cusum_windows(stats, ts_col, by, order, wrun, k, h)
    stats = base.select(
        "*",
        F.mean("__v").over(wkey).alias("__mu"),
        F.stddev_pop("__v").over(wkey).alias("__sigma"),
    )
    return _cusum_windows(stats, ts_col, by, order, wrun, k, h)


def _cusum_windows(stats, ts_col, by, order, wrun, k, h) -> DataFrame:
    """Shared CUSUM window algebra over a frame carrying ``__v``, ``__mu``,
    ``__sigma`` — used by both baseline modes of ``cusum_changepoint``."""
    z = F.when(F.col("__sigma") > 0, (F.col("__v") - F.col("__mu")) / F.col("__sigma")).otherwise(F.lit(0.0))
    kf = float(k)
    stepped = stats.select(
        "*",
        F.sum(z - F.lit(kf)).over(wrun).alias("__cp"),
        F.sum(-z - F.lit(kf)).over(wrun).alias("__cn"),
    ).select(
        "*",
        (F.col("__cp") - F.least(F.min("__cp").over(wrun), F.lit(0.0))).alias("__sp"),
        (F.col("__cn") - F.least(F.min("__cn").over(wrun), F.lit(0.0))).alias("__sn"),
    )
    hf = float(h)
    alarm_row = (F.col("__sp") > hf) | (F.col("__sn") > hf)
    return stepped.groupBy(by).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__mu").alias("mean"),
        F.max("__sigma").alias("std"),
        F.max("__sp").alias("max_cusum_pos"),
        F.max("__sn").alias("max_cusum_neg"),
        F.max(alarm_row).alias("alarm"),
        F.min(F.when(alarm_row, F.col(ts_col))).alias("first_alarm_ts"),
    )


_TRUNC_ORDER = ["minute", "hour", "day", "week", "month", "quarter", "year"]


def rollup_timeseries(
    events: DataFrame,
    ts_col: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    granularities: tuple[str, ...] = ("hour", "day"),
) -> DataFrame:
    """Hierarchical time-bucket rollup (the hypertable continuous-
    aggregate pattern): per ``(granularity, bucket_start, dims...)``
    aggregate stats, where each coarser level re-aggregates the FINER
    level's additive states instead of re-scanning the raw events.

    The raw table is read ONCE (the finest granularity); a day level
    then aggregates ~24x fewer rows than raw, a month level ~30x fewer
    than day — at 100 TB the cascade turns a multi-scan rollup job into
    one scan plus metadata-sized re-aggregations. The carried state is
    the same additive (n, sum, sumsq, min, max) algebra as
    ``mergeable.partitioned_profile``. The running sums are carried as
    ``DECIMAL(38,10)`` (exact, associative) rather than DOUBLE, so every
    level's mean/stddev is BIT-exact with a direct scan at that
    granularity regardless of partition count or merge order — float
    sum re-association under ``local[32]`` flipped a ``ROUND(x,5)``
    boundary in round 6 (a double cast to decimal scale 10 can never
    land exactly halfway, so the cast itself is deterministic too).

    ``granularities``: increasing-coarseness ``date_trunc`` units
    (calendar buckets nest: minute ⊂ hour ⊂ day ⊂ month — week is NOT
    nested under month and must not precede it). Output: one row per
    ``(granularity, bucket_start, dims...)`` with ``n_rows, n, mean,
    stddev, min, max``.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([ts_col, value_col, *dims])
    units = [g.lower() for g in granularities]
    if not units:
        raise ValueError("need at least one granularity")
    unknown = [g for g in units if g not in _TRUNC_ORDER]
    if unknown:
        raise ValueError(f"unknown date_trunc units: {unknown}")
    ranks = [_TRUNC_ORDER.index(g) for g in units]
    if ranks != sorted(ranks) or len(set(ranks)) != len(ranks):
        raise ValueError(f"granularities must be strictly coarsening: {units}")
    if "week" in units and any(
        _TRUNC_ORDER.index(g) > _TRUNC_ORDER.index("week") for g in units
    ):
        raise ValueError("week buckets do not nest under month/quarter/year")

    dim_cols = list(dims)
    state = rollup_state(events, ts_col, dim_cols, value_col, units[0])
    return rollup_from_state(state, dim_cols, tuple(units))


def rollup_state(
    events: DataFrame,
    ts_col: str,
    dims: list[str],
    value_col: str,
    granularity: str,
) -> DataFrame:
    """The finest-level additive rollup state: one row per
    ``(bucket_start, dims...)`` with ``n_rows, n, s, ss, mn, mx`` —
    ``s``/``ss`` as exact ``DECIMAL(38,10)`` sums. Streaming micro-batch
    states (``streaming.state_tables.rollup_state_sink``) append rows of
    this shape and :func:`rollup_from_state` re-aggregates them, so batch
    and streaming rollups are indistinguishable by construction.

    Magnitude envelope: DECIMAL(38,10) holds 28 integer digits, so the
    exactness claim requires ``|v| < 1e14`` (``v²`` must fit) — plenty
    for metrics/prices/counts, NOT for raw nanosecond epochs. Values
    outside the envelope (or NaN/±Inf) are NOT silently dropped: each
    group carries ``n_overflow``, and :func:`rollup_from_state` raises
    when any window it reads contains one. The state also records the
    grain it was written at (``state_granularity``) so a reader can't
    mislabel raw hour buckets as days (validated on read)."""
    dc = f"CAST(`{value_col}` AS DOUBLE)"
    dec = "DECIMAL(38, 10)"
    return (
        events.selectExpr(
            f"date_trunc('{granularity}', `{ts_col}`) AS bucket_start",
            *[f"`{d}`" for d in dims],
            f"{dc} AS __v",
        )
        .groupBy("bucket_start", *dims)
        .agg(
            F.expr("count(1)").alias("n_rows"),
            F.expr("count(__v)").alias("n"),
            F.expr(f"sum(try_cast(__v AS {dec}))").alias("s"),
            F.expr(f"sum(try_cast(__v * __v AS {dec}))").alias("ss"),
            F.expr("min(__v)").alias("mn"),
            F.expr("max(__v)").alias("mx"),
            F.expr(
                f"sum(CAST(__v IS NOT NULL AND (try_cast(__v AS {dec}) IS NULL"
                f" OR try_cast(__v * __v AS {dec}) IS NULL) AS BIGINT))"
            ).alias("n_overflow"),
        )
        .selectExpr("*", f"'{granularity.lower()}' AS state_granularity")
    )


def rollup_from_state(
    state: DataFrame,
    dims: list[str],
    granularities: tuple[str, ...],
) -> DataFrame:
    """Cascade + final stats over :func:`rollup_state` rows.  The input
    may contain SEVERAL state rows per bucket (one per appended
    micro-batch) — the first level re-merges them with the same additive
    algebra, so a streaming-maintained state table rolls up to exactly
    the batch answer.

    When the state carries ``state_granularity`` (written by
    :func:`rollup_state`), rows FINER than ``granularities[0]`` are
    legal — the first merge re-truncates their buckets up to the
    requested grain — and rows COARSER raise at execution (they cannot
    be refined; silently relabeling them was the failure mode).  When
    the state carries ``n_overflow``, any value that ever exceeded the
    DECIMAL(38,10) envelope (or a whole-sum overflow nulling ``s``/
    ``ss``) raises instead of yielding a silently wrong mean/stddev."""
    from pyspark_data_drift_detector_spark.functions.quoting import qs

    dim_cols = list(dims)
    units = list(granularities)
    pre = state
    if "state_granularity" not in pre.columns:
        pre = pre.selectExpr("*", "CAST(NULL AS STRING) AS state_granularity")
    if "n_overflow" not in pre.columns:
        pre = pre.selectExpr("*", "CAST(0 AS BIGINT) AS n_overflow")
    # grains at or finer than the requested first level can be merged up;
    # anything else (coarser, or an unknown label) is flagged and raised
    fine_enough = [
        g for g in _TRUNC_ORDER
        if _TRUNC_ORDER.index(g) <= _TRUNC_ORDER.index(units[0])
    ]
    if units[0] != "week":
        fine_enough = [g for g in fine_enough if g != "week"]
    ok_list = ", ".join(qs(g) for g in fine_enough)
    merged = (
        pre.selectExpr(
            f"date_trunc('{units[0]}', bucket_start) AS bucket_start",
            *[f"`{d}`" for d in dim_cols],
            "n_rows", "n", "s", "ss", "mn", "mx", "n_overflow",
            "CAST(state_granularity IS NOT NULL AND"
            f" lower(state_granularity) NOT IN ({ok_list}) AS INT)"
            " AS __bad_grain",
        )
        .groupBy("bucket_start", *dim_cols)
        .agg(
            F.expr("sum(n_rows)").alias("n_rows"),
            F.expr("sum(n)").alias("n"),
            F.expr("sum(s)").alias("s"),
            F.expr("sum(ss)").alias("ss"),
            F.expr("min(mn)").alias("mn"),
            F.expr("max(mx)").alias("mx"),
            F.expr("sum(n_overflow)").alias("n_overflow"),
            F.expr("max(__bad_grain)").alias("__bad_grain"),
        )
    )
    levels = [merged.selectExpr(f"'{units[0]}' AS granularity", "*")]
    for g in units[1:]:
        prev = levels[-1]
        levels.append(
            prev.selectExpr(
                f"date_trunc('{g}', bucket_start) AS bucket_start",
                *[f"`{d}`" for d in dim_cols],
                "n_rows", "n", "s", "ss", "mn", "mx",
                "n_overflow", "__bad_grain",
            )
            .groupBy("bucket_start", *dim_cols)
            .agg(
                F.expr("sum(n_rows)").alias("n_rows"),
                F.expr("sum(n)").alias("n"),
                F.expr("sum(s)").alias("s"),
                F.expr("sum(ss)").alias("ss"),
                F.expr("min(mn)").alias("mn"),
                F.expr("max(mx)").alias("mx"),
                F.expr("sum(n_overflow)").alias("n_overflow"),
                F.expr("max(__bad_grain)").alias("__bad_grain"),
            )
            .selectExpr(f"'{g}' AS granularity", "*")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    guard = (
        "CASE WHEN __bad_grain > 0 THEN raise_error("
        "'rollup_from_state: state rows are coarser than the requested"
        f" first granularity \"{units[0]}\" and cannot be refined')"
        " WHEN n_overflow > 0 OR (n > 0 AND (s IS NULL OR ss IS NULL))"
        " THEN raise_error('rollup_state: a value exceeded the"
        " DECIMAL(38,10) envelope (exactness requires abs(v) < 1e14) —"
        " mean/stddev would be silently wrong')"
    )
    # the guard rides EVERY metric column: a consumer that projects any
    # subset (counts only, min/max only) still trips it — with the guard
    # only on mean/stddev, column pruning silently disabled validation
    return out.selectExpr(
        "granularity",
        "bucket_start",
        *[f"`{d}`" for d in dim_cols],
        f"{guard} ELSE n_rows END AS n_rows",
        f"{guard} ELSE n END AS n",
        f"{guard} WHEN n > 0 THEN CAST(s AS DOUBLE) / n END AS mean",
        f"{guard} WHEN n > 1 THEN sqrt(greatest(0.0D,"
        " (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
        " / (n - 1))) END AS stddev",
        f"{guard} ELSE mn END AS min",
        f"{guard} ELSE mx END AS max",
    )


def session_drift(
    df_ref: DataFrame,
    df_curr: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = DEFAULT_SESSION_GAP,
    value_col: str = "value",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Behavioral drift at the SESSION grain: sessionize each snapshot,
    then run the full M16 numeric scorer over the session metrics
    (``n_events``, ``total_value``, ``duration_sec``) — catching
    engagement shifts (shorter sessions, fewer events per visit) that
    event-level column drift cannot see because every event-level
    distribution is unchanged.

    The split must be BY KEY (a key's events entirely on one side) or
    sessions themselves would be cut at the split boundary. Each side is
    one sessionize (single shuffle) plus the shared side-tagged profile
    aggregate; exact percentiles keep the metrics oracle-replayable.
    """
    metrics = ["n_events", "total_value", "duration_sec"]
    from pyspark_data_drift_detector_spark.operators.numeric_drift import (
        numeric_drift_pair,
    )

    def prep(df: DataFrame) -> DataFrame:
        return sessionize(df, ts_col, key_col, gap, value_col).selectExpr(
            "CAST(n_events AS DOUBLE) AS n_events",
            "CAST(total_value AS DOUBLE) AS total_value",
            "duration_sec",
        )

    return numeric_drift_pair(
        prep(df_ref),
        prep(df_curr),
        columns=metrics,
        thresholds=thresholds,
        quantiles=(0.25, 0.5, 0.75),
    )


def completeness_timeseries(
    df: DataFrame,
    ts_col: str,
    columns: list[str],
    granularity: str = "day",
) -> DataFrame:
    """Per-time-bucket completeness monitor: for every ``(bucket,
    column)``, row count, null count and null ratio — the freshness /
    ingest-health panel that catches a feed that silently started
    shipping NULLs at 3am, which whole-table profiles only see diluted.

    ONE scan: each row emits one cell per column (``inline``), then a
    single ``groupBy(bucket, column)`` whose key includes the column —
    no per-column jobs, no hot reducer.  Output: ``bucket_start,
    column_name, n_rows, n_null, null_ratio``.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    if not columns:
        raise ValueError("no columns")
    ensure_safe_columns([ts_col, *columns])
    if granularity.lower() not in _TRUNC_ORDER:
        raise ValueError(f"unknown date_trunc unit: {granularity}")
    cells = ", ".join(
        f"named_struct('column_name', '{c}',"
        f" 'is_null', CAST(`{c}` IS NULL AS INT))"
        for c in columns
    )
    return (
        df.selectExpr(
            f"date_trunc('{granularity.lower()}', `{ts_col}`) AS bucket_start",
            f"inline(array({cells}))",
        )
        .groupBy("bucket_start", "column_name")
        .agg(
            F.expr("count(1) AS n_rows"),
            F.expr("CAST(sum(is_null) AS BIGINT) AS n_null"),
        )
        .selectExpr(
            "bucket_start",
            "column_name",
            "n_rows",
            "n_null",
            "CAST(n_null AS DOUBLE) / greatest(n_rows, 1) AS null_ratio",
        )
    )


def seasonal_anomalies(
    df_ref: DataFrame,
    df_curr: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    granularity: str = "day",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Seasonality-aware time-bucket anomalies: score each CURRENT bucket
    against the reference period's baseline for the SAME day-of-week —
    the monitor that doesn't page on every weekend dip (a Saturday is
    compared to Saturdays, not to the weekly mean).

    Per current bucket: ``bucket_start, dow`` (0=Sunday..6), ``n_rows,
    bucket_mean``, the ref baseline for that dow (``expected_mean,
    expected_std`` — mean/stddev ACROSS the ref period's same-dow bucket
    means, plus ``n_baseline_buckets``), ``z_score`` and ``anomaly``
    (``|z| > z_threshold``; NULL z when the baseline has < 2 buckets or
    zero spread — flagged rather than fake-scored).

    Shape: one ``groupBy(bucket)`` per side (map-side combine), the
    O(7)-row dow baseline broadcast back — no window, no self-join.
    Sub-day granularities still baseline by dow (hour buckets of a
    Monday compare to Monday hours); extend the key to (dow, hour) by
    pre-truncating if hour-of-day seasonality matters.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([ts_col, value_col])
    if granularity.lower() not in _TRUNC_ORDER:
        raise ValueError(f"unknown date_trunc unit: {granularity}")

    def buckets(df: DataFrame) -> DataFrame:
        return (
            df.selectExpr(
                f"date_trunc('{granularity.lower()}', `{ts_col}`)"
                " AS bucket_start",
                f"CAST(`{value_col}` AS DOUBLE) AS __v",
            )
            .groupBy("bucket_start")
            .agg(
                F.expr("count(1) AS n_rows"),
                F.expr("avg(__v) AS bucket_mean"),
            )
            .selectExpr(
                "bucket_start",
                "dayofweek(bucket_start) - 1 AS dow",
                "n_rows",
                "bucket_mean",
            )
        )

    return _score_seasonal_buckets(
        buckets(df_ref), buckets(df_curr), z_threshold
    )


def _score_seasonal_buckets(
    ref_buckets: DataFrame,
    curr_buckets: DataFrame,
    z_threshold: float,
) -> DataFrame:
    """Shared scoring half of the seasonal monitor: dow baselines from
    the ref bucket panel (O(7) rows, broadcast), z-scores per curr
    bucket. Both bucket frames carry ``bucket_start, dow, n_rows,
    bucket_mean``."""
    baseline = ref_buckets.groupBy("dow").agg(
        F.expr("count(1) AS n_baseline_buckets"),
        F.expr("avg(bucket_mean) AS expected_mean"),
        F.expr("stddev(bucket_mean) AS expected_std"),
    )
    zt = float(z_threshold)
    return (
        curr_buckets
        .join(F.broadcast(baseline), "dow", "left")
        .selectExpr(
            "bucket_start",
            "dow",
            "n_rows",
            "bucket_mean",
            "CAST(coalesce(n_baseline_buckets, 0) AS BIGINT)"
            " AS n_baseline_buckets",
            "expected_mean",
            "expected_std",
            "CASE WHEN n_baseline_buckets >= 2 AND expected_std > 0"
            " THEN (bucket_mean - expected_mean) / expected_std END"
            " AS z_score",
        )
        .selectExpr(
            "*",
            f"CASE WHEN z_score IS NOT NULL THEN abs(z_score) > {zt!r}D END"
            " AS anomaly",
        )
    )


def seasonal_anomalies_from_state(
    state: DataFrame,
    split_ts: str,
    granularity: str = "day",
    z_threshold: float = 3.0,
) -> DataFrame:
    """The seasonal monitor fed from the CONTINUOUS aggregate instead of
    raw events: merge :func:`rollup_state` rows (any dims, any number of
    micro-batch appends) to per-bucket means, use buckets strictly
    before ``split_ts`` (an ISO timestamp string) as the same-dow
    baseline, and score the rest — the production deployment where the
    stream maintains the state and the monitor reads O(buckets) rows,
    never the events. Decimal-exact sums make the bucket means (and so
    the scores) identical to :func:`seasonal_anomalies` over the raw
    split — pinned by the parity test.
    """
    import re

    if granularity.lower() not in _TRUNC_ORDER:
        raise ValueError(f"unknown date_trunc unit: {granularity}")
    # split_ts is interpolated into a SQL literal: accept only a strict
    # ISO timestamp shape (the module's quoting discipline)
    if not re.fullmatch(
        r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?)?",
        str(split_ts),
    ):
        raise ValueError(f"split_ts must be an ISO timestamp: {split_ts!r}")
    # route through rollup_from_state with EMPTY dims: it merges every
    # state row of a bucket (all dims, all appends) with the exact
    # decimal sums AND fires the overflow/state-grain guards here
    # exactly as on every other state consumer — reading this path
    # unguarded was the round-8 review's finding #2
    rolled = rollup_from_state(state, [], (granularity.lower(),))
    merged = rolled.selectExpr(
        "bucket_start",
        "dayofweek(bucket_start) - 1 AS dow",
        "CAST(n_rows AS BIGINT) AS n_rows",
        "mean AS bucket_mean",
    )
    ref = merged.where(f"bucket_start < TIMESTAMP '{split_ts}'")
    curr = merged.where(f"bucket_start >= TIMESTAMP '{split_ts}'")
    return _score_seasonal_buckets(ref, curr, z_threshold)


def funnel_conversion(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_lag_seconds: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel over an event stream: a user completes
    step ``k`` when an event of type ``steps[k]`` occurs STRICTLY after
    their completion time of step ``k-1`` (first qualifying event
    counts; equal timestamps do not advance the funnel). The classic
    product-analytics question — "of the users who viewed, how many
    clicked, then signed up, then purchased, in that order?" — which no
    unordered groupBy can answer.

    ``max_lag_seconds`` adds the conversion-window variant every funnel
    tool offers: step ``k`` only counts if it lands within that many
    seconds AFTER the step ``k-1`` completion (strictly-after still
    applies) — "purchased within 24h of signing up". A user whose only
    qualifying events fall outside the window does not convert, and
    later steps measure from the windowed completion time. ``None``
    (default) keeps the unbounded behavior.

    Output: one row per step — ``step_index, step, n_users,
    share_of_first`` (conversion from the funnel's entry),
    ``share_of_prev`` (step-over-step conversion). Shares are NULL when
    the denominator is 0.

    Plan: step 0 is one groupBy(user) min; each later step is one hash
    join of the step's events against the previous step's O(users)
    completion table followed by a min. Each step table is EAGERLY
    checkpointed before the next step reads it — a pure CTE chain would
    re-instantiate every prior step per reference (Spark re-runs a CTE
    per reference), turning k steps into ~2^k event scans; checkpointed
    steps keep it at exactly one pushed-filter scan of the events per
    step, and the per-step counts are O(1) driver values. NULL users
    are matched null-safely (one anonymous funnel row). The joins are
    spark.sql CTEs because dependent DataFrame self-joins trip Spark
    4.1's resolution ambiguity (see t_closeness_profile).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
        qs,
    )

    ensure_safe_columns([user_col, type_col, ts_col])
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if max_lag_seconds is not None and max_lag_seconds <= 0:
        raise ValueError(
            f"max_lag_seconds must be positive, got {max_lag_seconds}"
        )
    lag_pred = (
        ""
        if max_lag_seconds is None
        else f" AND e.ts <= timestampadd(SECOND, {int(max_lag_seconds)},"
        " p.t)"
    )
    u, t, ts = f"`{user_col}`", f"`{type_col}`", f"`{ts_col}`"
    spark = df.sparkSession
    cur = spark.sql(
        f"SELECT {u} AS u, MIN({ts}) AS t FROM {{src}}"
        f" WHERE {t} = {qs(steps[0])} GROUP BY {u}",
        src=df,
    ).localCheckpoint(eager=True)
    counts = [cur.count()]
    for step in steps[1:]:
        cur = spark.sql(
            f"SELECT e.u AS u, MIN(e.ts) AS t FROM"
            f" (SELECT {u} AS u, {t} AS et, {ts} AS ts FROM {{src}}) e"
            " JOIN {prev} p ON e.u <=> p.u"
            f" WHERE e.et = {qs(step)} AND e.ts > p.t{lag_pred}"
            " GROUP BY e.u",
            src=df,
            prev=cur,
        ).localCheckpoint(eager=True)
        counts.append(cur.count())
    selects = []
    for i, step in enumerate(steps):
        n0, ni, prev = counts[0], counts[i], counts[max(i - 1, 0)]
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS step_index,"
            f" {qs(step)} AS step, CAST({ni} AS BIGINT) AS n_users,"
            f" CASE WHEN {n0} > 0"
            f" THEN CAST({ni} AS BIGINT) / CAST({n0} AS DOUBLE) END"
            f" AS share_of_first,"
            f" CASE WHEN {prev} > 0"
            f" THEN CAST({ni} AS BIGINT) / CAST({prev} AS DOUBLE) END"
            f" AS share_of_prev"
        )
    return spark.sql("\nUNION ALL\n".join(selects))


def funnel_latency(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-convert distribution per funnel step — the companion
    question to :func:`funnel_conversion`'s "how many?": for users who
    completed step ``k``, how long after completing step ``k-1``? The
    number a growth team watches to find WHERE a funnel stalls (not just
    where it leaks).

    Semantics mirror ``funnel_conversion`` exactly (strictly-after first
    qualifying event; equal timestamps don't advance), so each step's
    user set here is the same set the conversion report counts. Output:
    one row per step k >= 1 — ``step_index, step, n_users`` plus
    ``mean/p50/p90/min/max`` latency in SECONDS (exact-microsecond
    integer deltas divided by 1e6; timezone-free). A step nobody
    reached keeps its row with NULL stats.

    Plan: the same eagerly-checkpointed O(users) step tables as the
    conversion funnel (one pushed-filter event scan per step, no 2^k
    CTE re-instantiation — see funnel_conversion), then per step ONE
    O(users) join of two checkpointed tables and ONE single-row exact
    percentile aggregate; the union is O(steps) rows.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
        qs,
    )

    ensure_safe_columns([user_col, type_col, ts_col])
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    u, t, ts = f"`{user_col}`", f"`{type_col}`", f"`{ts_col}`"
    spark = df.sparkSession
    prev = spark.sql(
        f"SELECT {u} AS u, MIN({ts}) AS t FROM {{src}}"
        f" WHERE {t} = {qs(steps[0])} GROUP BY {u}",
        src=df,
    ).localCheckpoint(eager=True)
    panels = []
    for i, step in enumerate(steps[1:], start=1):
        cur = spark.sql(
            f"SELECT e.u AS u, MIN(e.ts) AS t FROM"
            f" (SELECT {u} AS u, {t} AS et, {ts} AS ts FROM {{src}}) e"
            " JOIN {prev} p ON e.u <=> p.u"
            f" WHERE e.et = {qs(step)} AND e.ts > p.t"
            " GROUP BY e.u",
            src=df,
            prev=prev,
        ).localCheckpoint(eager=True)
        panels.append(
            spark.sql(
                f"""SELECT CAST({i} AS BIGINT) AS step_index,
                  {qs(step)} AS step,
                  CAST(count(1) AS BIGINT) AS n_users,
                  avg(d) AS mean_seconds,
                  percentile(d, 0.5) AS p50_seconds,
                  percentile(d, 0.9) AS p90_seconds,
                  min(d) AS min_seconds,
                  max(d) AS max_seconds
                FROM (SELECT
                  timestampdiff(MICROSECOND, p.t, c.t) / 1000000.0D AS d
                  FROM {{cur}} c JOIN {{prev}} p ON c.u <=> p.u)""",
                cur=cur,
                prev=prev,
            )
        )
        prev = cur
    out = panels[0]
    for p in panels[1:]:
        out = out.unionByName(p)
    return out


def watermark_planner(
    df: DataFrame,
    delays: list[int],
    ts_col: str = "ts",
    order_col: str = "event_id",
    num_buckets: int = 32,
) -> DataFrame:
    """How late does this stream's data actually arrive — and what would
    a given watermark DROP? Per event, lateness = (max event-time seen
    at or before its arrival) − (its own event time), where arrival is
    ``order_col`` (ingest sequence / offset). For every candidate
    watermark delay the planner reports how many events exceed it — the
    measurement that sizes ``withWatermark()`` before a streaming job
    silently discards data, plus the lateness distribution
    (p50/p90/p99/max) for context.

    Scale shape: the naive plan is ONE unpartitioned ordered window
    (every event through one task). Here the running max is the
    two-phase distributed prefix-max (the ``bucketed_cumsum`` recipe —
    max is associative, so bucket-prefix offsets combine exactly):
    equi-depth arrival-order buckets via ``percentile_approx`` edges
    (approximation skews only balance, never the result), per-bucket
    maxima → exclusive running offsets over the O(buckets) table,
    within-bucket ordered windows, ``greatest(offset, within)``. Events
    with NULL arrival or NULL event time are excluded (they carry no
    order / no time). ``order_col`` must be NUMERIC; equal arrival
    values are treated as simultaneous — every tied event sees the max
    over ALL ties (a RANGE frame), so the result is deterministic even
    for a seconds-resolution ingest timestamp with collisions.

    Output: one row per candidate delay — ``delay_seconds, n_events,
    n_late, late_share`` plus the constant distribution columns
    (``p50/p90/p99/max_lateness`` in seconds).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([ts_col, order_col])
    if not delays:
        raise ValueError("delays must be non-empty")
    if any(d < 0 for d in delays):
        raise ValueError(f"delays must be >= 0, got {sorted(delays)}")
    base = df.selectExpr(
        f"`{order_col}` AS __o", f"`{ts_col}` AS __t"
    ).filter("__o IS NOT NULL AND __t IS NOT NULL")
    probs = [i / num_buckets for i in range(1, num_buckets)]
    edges = base.agg(
        F.percentile_approx(
            F.col("__o"), F.array(*[F.lit(p) for p in probs]), F.lit(1000)
        ).alias("__edges")
    )
    with_b = base.crossJoin(F.broadcast(edges)).selectExpr(
        "__o",
        "__t",
        "aggregate(__edges, 0, (b, e) -> b + CAST(__o > e AS INT)) AS __b",
    ).drop("__edges")
    bmax = with_b.groupBy("__b").agg(F.expr("max(__t) AS __bm"))
    offsets = bmax.selectExpr(
        "__b",
        # exclusive prefix max over the O(buckets) panel
        "max(__bm) OVER (ORDER BY __b ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND 1 PRECEDING) AS __off",
    )
    # RANGE, not ROWS: ties on the arrival key are simultaneous — every
    # tied event scores against the max over all ties, deterministically
    w = Window.partitionBy("__b").orderBy("__o").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    late = (
        with_b.withColumn("__wm", F.max("__t").over(w))
        .join(F.broadcast(offsets), "__b")
        .selectExpr(
            "timestampdiff(MICROSECOND, __t,"
            " greatest(coalesce(__off, __t), __wm)) / 1000000.0D AS __late"
        )
    )
    # The whole final panel is order/integer statistics of ONE derived
    # column (count, max, exact percentiles, per-delay exceedance
    # counts) — one NumPy pass over the gathered __late vector computes
    # all of them in a single traversal of the (window-heavy) subtree,
    # where the previous aggregate's three sort-based percentile
    # aggregates buffered the column in a boxed per-value map three
    # times over. Values bit-identical: same interpolation as
    # ``percentile`` (_percentile_from_sorted), exact integer counts,
    # max is the sorted vector's last element.
    from pyspark_data_drift_detector_spark.operators.profile import (
        _percentile_from_sorted,
    )

    delay_ints = [int(d) for d in delays]
    gschema = (
        "n_events bigint, p50_lateness double, p90_lateness double,"
        " p99_lateness double, max_lateness double, "
        + ", ".join(f"__n_late_{i} bigint" for i in range(len(delays)))
    )

    def _late_panel(pdf):
        import numpy as np
        import pandas as pd

        v = pdf["__late"].to_numpy(dtype="float64")
        v.sort()
        n = int(v.size)
        row = {
            "n_events": [n],
            "p50_lateness": [_percentile_from_sorted(v, n, 0.5) if n else None],
            "p90_lateness": [_percentile_from_sorted(v, n, 0.9) if n else None],
            "p99_lateness": [_percentile_from_sorted(v, n, 0.99) if n else None],
            "max_lateness": [float(v[-1]) if n else None],
        }
        for i, d in enumerate(delay_ints):
            row[f"__n_late_{i}"] = [int(np.count_nonzero(v > d))]
        return pd.DataFrame(row)

    gathered = late.groupBy().applyInPandas(_late_panel, gschema)
    # empty-input fallback (the gather emits zero rows where the old
    # 1-row aggregate emitted count 0 + NULL stats): broadcast left join
    # from a literal row, count coalesced to 0, sums stay NULL
    one = (
        late.sparkSession.range(1)
        .join(F.broadcast(gathered), F.lit(True), "left")
        .selectExpr(
            "coalesce(n_events, 0L) AS n_events",
            "p50_lateness",
            "p90_lateness",
            "p99_lateness",
            "max_lateness",
            *[
                f"CAST(__n_late_{i} AS BIGINT) AS __n_late_{i}"
                for i in range(len(delays))
            ],
        )
    )
    rows = ", ".join(
        f"named_struct('delay_seconds', CAST({int(d)} AS BIGINT),"
        f" 'n_late', __n_late_{i})"
        for i, d in enumerate(delays)
    )
    return one.selectExpr(
        "n_events",
        "p50_lateness",
        "p90_lateness",
        "p99_lateness",
        "max_lateness",
        f"inline(array({rows}))",
    ).selectExpr(
        "delay_seconds",
        "n_events",
        "n_late",
        "n_late / CAST(n_events AS DOUBLE) AS late_share",
        "p50_lateness",
        "p90_lateness",
        "p99_lateness",
        "max_lateness",
    )


def transition_drift(
    ref: DataFrame,
    curr: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    threshold: float = 0.02,
) -> DataFrame:
    """BEHAVIORAL drift: compare the first-order Markov transition mix
    of two event streams. Each side's per-user event sequence (ordered
    by ``ts`` with ``order_col`` as the deterministic tie-break) yields
    consecutive ``(prev_type, next_type)`` transitions; the panel
    aligns both sides' transition SHARES and flags pairs whose share
    moved more than ``threshold`` — "users suddenly go view->error
    instead of view->click" is invisible to per-type frequency drift
    but jumps out here.

    Output per observed transition pair: ``prev_type, next_type, ref_n,
    curr_n, ref_share, curr_share, share_abs_diff, drift_detected``
    (flag on ``round(diff, 5) > threshold``, the token_share_drift
    convention). A side with no transitions contributes share 0
    (everything on the other side is drift).

    Plan: one lag window per side partitioned by user (state bounded by
    a user's events — the sessionize partition premise), one
    groupBy(pair) count each, then an O(distinct pairs) full-outer
    panel — the corpus of events is never joined row-to-row. Expressed
    via one spark.sql CTE query (window + derived-frame self-joins trip
    Spark 4.1's DataFrame resolution ambiguity; see
    t_closeness_profile).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([user_col, type_col, ts_col, order_col])
    thr = float(threshold)
    if not 0 <= thr <= 1:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    u, t = f"`{user_col}`", f"`{type_col}`"
    ts, o = f"`{ts_col}`", f"`{order_col}`"

    def side(name: str, src: str) -> str:
        return f"""
    {name}_t AS (
      SELECT prev_et AS prev_type, et AS next_type FROM (
        SELECT {t} AS et,
          LAG({t}) OVER (PARTITION BY {u} ORDER BY {ts}, {o}) AS prev_et
        FROM {{{src}}}) x
      WHERE prev_et IS NOT NULL),
    {name}_c AS (
      SELECT prev_type, next_type, CAST(COUNT(1) AS BIGINT) AS n
      FROM {name}_t GROUP BY prev_type, next_type)"""

    query = f"""
    WITH {side('r', 'ref')},
    {side('c', 'curr')}
    {_transition_panel_sql('r_c', 'c_c', thr)}"""
    return ref.sparkSession.sql(query, ref=ref, curr=curr)


def _transition_panel_sql(ref_cte: str, curr_cte: str, thr: float) -> str:
    """Shared tail of the transition family: the null-safe full-outer
    pair panel (NULL event types align like any other value), shares as
    global-sum windows over the O(pairs) panel (a total in its own CTE
    would re-instantiate — and re-window — the corpus-scale CTE feeding
    it; each side's counts appear exactly once in the full-outer panel,
    so the panel-level sum equals the side total), and the rounded
    drift flag. One definition so :func:`transition_drift` and
    :func:`transition_incremental` cannot diverge."""
    return f"""
    , panel AS (
      SELECT coalesce(r.prev_type, c.prev_type) AS prev_type,
        coalesce(r.next_type, c.next_type) AS next_type,
        coalesce(r.n, 0) AS ref_n, coalesce(c.n, 0) AS curr_n
      FROM {ref_cte} r FULL OUTER JOIN {curr_cte} c
        ON r.prev_type <=> c.prev_type AND r.next_type <=> c.next_type)
    SELECT prev_type, next_type, ref_n, curr_n,
      ref_share, curr_share,
      abs(ref_share - curr_share) AS share_abs_diff,
      round(abs(ref_share - curr_share), 5) > {thr!r}D AS drift_detected
    FROM (
      SELECT p.*,
        CASE WHEN SUM(ref_n) OVER () > 0
             THEN ref_n / CAST(SUM(ref_n) OVER () AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS ref_share,
        CASE WHEN SUM(curr_n) OVER () > 0
             THEN curr_n / CAST(SUM(curr_n) OVER () AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS curr_share
      FROM panel p) s"""


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by the bucket of their
    FIRST event (their cohort), tracked across subsequent buckets —
    "of the users who arrived in week W, how many were still active
    W+1, W+2, ...". The longitudinal engagement view that single-window
    activity counts and the key-churn panel cannot give.

    ``bucket`` is ``'week'`` (ISO Monday truncation, offsets in weeks)
    or ``'day'``. Output: one row per (cohort, offset) —
    ``cohort`` (the bucket start date as a string, engine-portable),
    ``offset`` (whole buckets since the cohort bucket), ``n_active``
    (distinct cohort users active in that bucket), ``cohort_size``
    (= ``n_active`` at offset 0, every user's first bucket being active
    by construction), ``retention = n_active / cohort_size``.

    Plan: ONE corpus-scale pass builds the distinct (user, bucket)
    activity table (persisted — Spark re-instantiates a CTE per
    reference, and both the first-seen aggregate and the offset join
    read it); everything after is O(users) / O(cohorts × offsets),
    with the tiny result eagerly checkpointed and the cache released
    (the t_closeness_profile convention). NULL users form one
    anonymous cohort (null-safe join).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([user_col, ts_col])
    if bucket not in ("week", "day"):
        raise ValueError(f"bucket must be 'week' or 'day', got {bucket!r}")
    days = 7 if bucket == "week" else 1
    act = (
        df.selectExpr(
            f"`{user_col}` AS u",
            f"CAST(date_trunc('{bucket}', `{ts_col}`) AS DATE) AS wk",
        )
        .filter("wk IS NOT NULL")  # a NULL timestamp is not activity —
        # it would otherwise emit a phantom (cohort, NULL-offset) row
        .distinct()
        .persist()
    )
    query = f"""
    WITH act AS (SELECT * FROM {{src}}),
    firsts AS (SELECT u, MIN(wk) AS cohort FROM act GROUP BY u),
    j AS (
      SELECT f.cohort AS cohort,
        CAST(datediff(a.wk, f.cohort) div {days} AS BIGINT) AS offset
      FROM act a JOIN firsts f ON a.u <=> f.u),
    m AS (
      SELECT cohort, offset, CAST(count(1) AS BIGINT) AS n_active
      FROM j GROUP BY cohort, offset),
    sz AS (SELECT cohort, n_active AS cohort_size FROM m WHERE offset = 0)
    SELECT date_format(m.cohort, 'yyyy-MM-dd') AS cohort,
      m.offset, m.n_active, s.cohort_size,
      m.n_active / CAST(s.cohort_size AS DOUBLE) AS retention
    FROM m JOIN sz s ON m.cohort = s.cohort"""
    out = df.sparkSession.sql(query, src=act).localCheckpoint(eager=True)
    act.unpersist(blocking=False)
    return out


def event_paths(
    df: DataFrame,
    n: int = 3,
    top_k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Path mining: the ``top_k`` most common ``n``-step event sequences
    across users — the DISCOVERY complement to :func:`funnel_conversion`
    (which tests one hypothesized path) and :func:`transition_drift`
    (order-1 only): "what do users actually do in 3 steps?".

    Each user's event stream (ordered by ``ts`` with ``order_col`` as
    the deterministic tie-break) yields one candidate path per event
    window of ``n`` consecutive events; paths never span users. Output:
    ``path`` (the '>'-joined step types), ``n_occurrences`` (total
    windows), ``n_users`` (distinct users exhibiting the path),
    ``share`` (of all n-windows). Top-k by occurrences with a path-name
    tie-break — a heap (TakeOrderedAndProject), never a global sort.

    Plan: ``n-1`` lag columns in ONE window pass partitioned by user
    (bounded state), one groupBy(path) aggregate, then the share's
    global sum as a window over the AGGREGATED path table (O(distinct
    paths) rows — the zipf_fit tiny-frame convention; a separate total
    CTE would re-instantiate the corpus window, scanning events twice).
    The event stream shuffles once, on the user key.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([user_col, type_col, ts_col, order_col])
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    u, t = f"`{user_col}`", f"`{type_col}`"
    ts, o = f"`{ts_col}`", f"`{order_col}`"
    lags = ", ".join(
        f"LAG({t}, {i}) OVER (PARTITION BY {u} ORDER BY {ts}, {o})"
        f" AS p{i}"
        for i in range(1, n)
    )
    steps = " || '>' || ".join(f"p{i}" for i in range(n - 1, 0, -1))
    query = f"""
    WITH w AS (
      SELECT {u} AS u, {t} AS et, {lags} FROM {{src}}),
    paths AS (
      SELECT u, {steps} || '>' || et AS path
      FROM w WHERE p{n - 1} IS NOT NULL),
    c AS (
      SELECT path, CAST(count(1) AS BIGINT) AS n_occurrences,
        CAST(count(DISTINCT u) AS BIGINT) AS n_users
      FROM paths GROUP BY path)
    SELECT path, n_occurrences, n_users,
      n_occurrences / CAST(sum(n_occurrences) OVER () AS DOUBLE) AS share
    FROM c
    ORDER BY n_occurrences DESC, path ASC LIMIT {int(top_k)}"""
    return df.sparkSession.sql(query, src=df)


def transition_pair_state(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Additive behavioral state for one ingest batch: WITHIN-batch
    transition counts (``prev_type, next_type, n``) — the events-side
    member of the vet-the-increment state family (token_share_state /
    embedding_state / cluster_share_state). Append one per time-ordered
    batch; :func:`transition_incremental` emits the batch's pairs
    INCLUDING the cross-batch stitch, so appending ITS counts keeps the
    rolled-up SUM exactly equal to the transition counts of the full
    stream. O(distinct pairs) rows per batch."""
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([user_col, type_col, ts_col, order_col])
    u, t = f"`{user_col}`", f"`{type_col}`"
    ts, o = f"`{ts_col}`", f"`{order_col}`"
    query = f"""
    WITH w AS (
      SELECT {t} AS et,
        LAG({t}) OVER (PARTITION BY {u} ORDER BY {ts}, {o}) AS p
      FROM {{src}})
    SELECT p AS prev_type, et AS next_type,
      CAST(count(1) AS BIGINT) AS n
    FROM w WHERE p IS NOT NULL GROUP BY p, et"""
    return df.sparkSession.sql(query, src=df)


def transition_last_state(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Each user's LAST event in the batch (``user_key, last_type,
    last_ts, last_order``) — the carry state that lets the next batch's
    first event stitch into a cross-batch transition. Latest-wins by
    ``(ts, order_col)`` via ROW_NUMBER (arg_max with composite keys is
    not engine-portable); per-user window state is bounded. The state
    is APPEND-mergeable: carrying the ordering columns lets any reader
    (and :func:`transition_incremental`) re-derive the per-user latest
    row over appended fragments — the family's reader-re-aggregates
    convention, no read-modify-write."""
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([user_col, type_col, ts_col, order_col])
    u, t = f"`{user_col}`", f"`{type_col}`"
    ts, o = f"`{ts_col}`", f"`{order_col}`"
    query = f"""
    WITH r AS (
      SELECT {u} AS user_key, {t} AS last_type, {ts} AS last_ts,
        {o} AS last_order,
        ROW_NUMBER() OVER (PARTITION BY {u}
                           ORDER BY {ts} DESC, {o} DESC) AS rn
      FROM {{src}})
    SELECT user_key, last_type, last_ts, last_order FROM r WHERE rn = 1"""
    return df.sparkSession.sql(query, src=df)


def transition_incremental(
    batch: DataFrame,
    prior_pairs: DataFrame,
    prior_last: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    threshold: float = 0.02,
) -> DataFrame:
    """Behavioral tripwire for one time-ordered ingest batch: the
    batch's transition mix — within-batch lag pairs PLUS the cross-batch
    stitch (each user's prior last event into their first batch event) —
    vetted against the rolled-up prior pair state, without re-reading
    any prior events. The events-side member of the vet-the-increment
    family ("did user behavior change in THIS batch?").

    ``prior_pairs`` is the appended :func:`transition_pair_state`
    fragments (columns ``prev_type, next_type, n`` — when appending a
    previous increment's panel instead, rename ``curr_n AS n`` first,
    as :func:`streaming.state_tables.transition_vetting_sink` does);
    ``prior_last`` the appended :func:`transition_last_state`
    fragments. BOTH are re-aggregated here (counts summed,
    latest-per-user wins), so plain parquet appends roll the state
    forward. Invariant: prior counts + this
    output's ``curr_n`` = the full stream's transition counts, exactly.

    Output mirrors :func:`transition_drift` (``ref_* = state``,
    ``curr_* = batch``): per pair counts, shares, ``share_abs_diff``
    and the ``round(diff, 5) > threshold`` flag; a side with no
    transitions contributes share 0. Plan: one lag window + one
    first-event window over the batch (user-key partitions), a
    broadcast-able join of O(users) last-state, and an
    O(distinct pairs) panel.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([user_col, type_col, ts_col, order_col])
    thr = float(threshold)
    if not 0 <= thr <= 1:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    u, t = f"`{user_col}`", f"`{type_col}`"
    ts, o = f"`{ts_col}`", f"`{order_col}`"
    # ONE window pass over the batch: LAG is NULL exactly on each user's
    # first batch event, so the stitch is `coalesce(lag, prior_last)`
    # after a broadcast-able left join of the O(users) last-state — no
    # separate firsts/stitched CTEs (Spark re-instantiates a CTE per
    # reference; the two-CTE shape scanned and windowed the batch
    # twice). Totals are windows over the O(pairs) panel for the same
    # reason (each side's counts appear exactly once in the full-outer
    # panel, so the panel-level sum equals the side total).
    query = f"""
    WITH w AS (
      SELECT u, et, LAG(et) OVER (PARTITION BY u ORDER BY ts, o) AS p
      FROM (SELECT {u} AS u, {t} AS et, {ts} AS ts, {o} AS o
            FROM {{batch}}) b),
    lastagg AS (
      SELECT user_key, last_type FROM (
        SELECT user_key, last_type,
          ROW_NUMBER() OVER (PARTITION BY user_key
            ORDER BY last_ts DESC, last_order DESC) AS rn
        FROM {{last}}) x
      WHERE rn = 1),
    bc AS (
      SELECT prev_type, next_type, CAST(count(1) AS BIGINT) AS n
      FROM (SELECT coalesce(w.p, l.last_type) AS prev_type,
              w.et AS next_type
            FROM w LEFT JOIN lastagg l ON w.u <=> l.user_key) z
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type),
    pc AS (
      SELECT prev_type, next_type, CAST(sum(n) AS BIGINT) AS n
      FROM {{pairs}} GROUP BY prev_type, next_type)
    {_transition_panel_sql('pc', 'bc', thr)}"""
    return batch.sparkSession.sql(
        query, batch=batch, pairs=prior_pairs, last=prior_last
    )


def ewma_control(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    lam: float = 0.2,
    limit_sigma: float = 3.0,
    by: list[str] | None = None,
) -> DataFrame:
    """EWMA control chart over the daily-mean series — the smoothed
    complement to :func:`cusum_changepoint` (CUSUM reacts to abrupt
    level shifts; EWMA to slow drifts). Reference analogue: the
    numerical analyzer's single ref-vs-curr mean comparison, upgraded
    to a per-day monitored series with proper control limits.

    The textbook recursion ``z_t = λ·x_t + (1-λ)·z_{t-1}`` (z_0 = μ₀)
    is sequential; the distributed form uses a RE-ANCHORED closed-form
    prefix sum: with r = 1-λ, the naive rescaling
    ``z_t = r^t·(μ₀ + λ·Σ x_i·r^{-i})`` overflows doubles once
    ``t·(-ln r) > ~709`` (a λ-dependent bound: ~3500 days at λ=0.2 but
    only ~1000 at λ=0.5), so the series is chunked every
    ``k = ⌈400/(-ln r)⌉`` rows and the sum re-anchored per chunk:
    within a chunk the rescale exponent is bounded by 400
    (``r^{-u} ≤ e^400``, never overflows for |x| < ~1e130), and the
    prior chunk's mass carries over as ``r^k·(chunk partial)`` via one
    range-frame window over the chunk index. Chunks older than one carry
    a true weight ≤ e^{-400} (~1e-174 relative) — dropped, which is the
    same order as what the sequential recursion retains below double
    precision; the chart is exact to far beyond any display rounding
    for UNBOUNDED series length. The whole chart is window algebra
    over the O(days) daily panel — the raw corpus is touched once by
    the groupBy(day) aggregate, everything after is negligible.

    Control limits are the standard steady-state-corrected EWMA bands
    ``μ₀ ± Lσ₀·sqrt(λ/(2-λ)·(1-r^{2t}))`` with μ₀/σ₀ estimated from
    the full daily series (Phase-I convention). Output: one row per
    day with ``x`` (daily mean), ``z``, ``ucl``/``lcl``, and the
    ``out_of_control`` flag.

    ``by`` turns the single chart into a chart PER SERIES (one per
    event type, per source, per metric — the production monitoring
    shape): the daily reduction groups by ``by + day``, the Phase-I
    baselines become an O(series) broadcast panel, and every window
    partitions on ``by`` — parallelism is series × (tiny per-series
    panels), never a single-task sort of all series.
    """
    keys = list(by or [])
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    # ONE corpus reduction; everything downstream (baselines + chart) is
    # window algebra over the O(series × days) panel in a single linear
    # chain — no second consumer, so no persist needed
    daily = df.groupBy(*keys, day).agg(F.avg(value_col).alias("x"))
    r = 1.0 - lam
    w = Window.partitionBy(*keys).orderBy("day")
    # Phase-I baselines ride an UNSORTED whole-series window over the
    # panel (no join — NULL series keys partition natively); per-series
    # panels are O(days) rows; ungrouped, the windows ride ~hundreds of
    # rows, never the corpus (same documented shape as cusum_changepoint)
    wb = Window.partitionBy(*keys)
    enr = daily.withColumn("mu0", F.avg("x").over(wb)).withColumn(
        "sigma0", F.stddev_samp("x").over(wb)
    )
    # chunk size: exponent budget 400 nats keeps r^{-u} ≤ e^400 (finite
    # for |x| < ~1e130) while r^{2k} ≈ e^{-800} underflows to exact 0 —
    # so one lagged carry per chunk reconstructs the full-history sum
    # with relative error ≤ e^{-400}, unconditionally in series length
    k_rows = max(1, int(math.ceil(400.0 / -math.log(r)))) if r > 0 else 1
    keyed = (
        enr.withColumn("t", F.row_number().over(w).cast("double"))
        .withColumn("__c", F.floor((F.col("t") - 1) / k_rows))
        .withColumn("__u", F.col("t") - F.col("__c") * k_rows)
        .withColumn("__rx", F.col("x") * F.pow(F.lit(r), -F.col("__u")))
    )
    wc = Window.partitionBy(*keys, "__c").orderBy("day")
    # prior chunk's full rescaled sum via ONE range-frame window
    # (rangeBetween(-1, -1) over the chunk index = "all rows of chunk
    # c-1"), re-anchored by r^k — no carry-panel join, so the chart
    # stays one linear window chain over the daily panel; chunk 0's
    # empty frame is NULL → 0 (the μ₀ term below already covers the
    # z_0 seed)
    wprev = (
        Window.partitionBy(*keys).orderBy(F.col("__c")).rangeBetween(-1, -1)
    )
    out = (
        keyed.withColumn(
            "__ws",
            F.sum("__rx").over(wc.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "__anchor",
            F.sum("__rx").over(wprev) * F.lit(float(r) ** k_rows),
        )
        .withColumn(
            "z",
            F.pow(F.lit(r), F.col("t")) * F.col("mu0")
            + F.lit(lam)
            * F.pow(F.lit(r), F.col("__u"))
            * (F.col("__ws") + F.coalesce(F.col("__anchor"), F.lit(0.0))),
        )
        .withColumn(
            "__band",
            F.lit(limit_sigma)
            * F.col("sigma0")
            * F.sqrt(
                F.lit(lam / (2.0 - lam))
                * (F.lit(1.0) - F.pow(F.lit(r), 2.0 * F.col("t")))
            ),
        )
        .withColumn("ucl", F.col("mu0") + F.col("__band"))
        .withColumn("lcl", F.col("mu0") - F.col("__band"))
        .withColumn(
            "out_of_control",
            (F.col("z") > F.col("ucl")) | (F.col("z") < F.col("lcl")),
        )
    )
    return out.select(
        *keys,
        "day",
        "x",
        F.col("t").cast("long").alias("t"),
        "z",
        "ucl",
        "lcl",
        "out_of_control",
    )


def seasonality_drift(
    ref: DataFrame,
    curr: DataFrame,
    ts_col: str = "ts",
    epsilon: float = 1e-4,
) -> DataFrame:
    """Activity-mix drift across the two canonical seasonal grains —
    day-of-week and hour-of-day — in one panel: did traffic move from
    weekdays to weekends, from business hours to nights? This is the
    temporal twin of the categorical PSI: the "category" is the seasonal
    bucket, and the per-bucket ``psi_term`` uses the same zero-bin
    epsilon clamp as :func:`frequency.population_stability_index` so
    terms stay finite when a bucket is empty on one side.

    Each side reduces to an O(7 + 24) panel with ONE grouped aggregate
    (both grains unioned through a single unpivot projection, so the
    corpus is scanned once per side); everything downstream is
    broadcast-sized. ``bucket`` is 0-based (dow: 0 = Sunday, matching
    ANSI ``date_part('dow')``; hour: 0-23).
    """
    return _seasonality_compare(
        _seasonality_cells(ref, ts_col, "ref_cnt"),
        _seasonality_cells(curr, ts_col, "curr_cnt"),
        epsilon,
    )


def _seasonality_cells(df: DataFrame, ts_col: str, cnt_name: str) -> DataFrame:
    """Per-(grain, bucket) event counts for both seasonal grains in one
    grouped aggregate — the additive panel everything seasonal builds on."""
    ts = F.col(ts_col)
    grains = F.array(
        F.struct(
            F.lit("dow").alias("grain"),
            (F.dayofweek(ts) - 1).cast("long").alias("bucket"),
        ),
        F.struct(
            F.lit("hour").alias("grain"),
            F.hour(ts).cast("long").alias("bucket"),
        ),
    )
    return (
        df.select(F.explode(grains).alias("g"))
        .groupBy(F.col("g.grain").alias("grain"), F.col("g.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias(cnt_name))
    )


def _seasonality_compare(
    ref_cells: DataFrame, curr_cells: DataFrame, epsilon: float
) -> DataFrame:
    from pyspark_data_drift_detector_spark.operators.dedup import _reuse

    # the O(31)-bucket panel feeds both the totals aggregate and the
    # output projection; persist so each side's corpus scan runs once.
    # bucket joins NULL-SAFELY: a NULL timestamp buckets to NULL on both
    # sides and must align into ONE row (the oracle's GROUP BY
    # convention), not two half-rows each faking drift
    aligned = _reuse(
        ref_cells.alias("r")
        .join(
            curr_cells.alias("c"),
            F.expr("r.grain <=> c.grain AND r.bucket <=> c.bucket"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("r.grain"), F.col("c.grain")).alias("grain"),
            F.coalesce(F.col("r.bucket"), F.col("c.bucket")).alias("bucket"),
            F.coalesce(F.col("ref_cnt"), F.lit(0)).alias("ref_cnt"),
            F.coalesce(F.col("curr_cnt"), F.lit(0)).alias("curr_cnt"),
        )
    )
    totals = aligned.groupBy("grain").agg(
        F.sum("ref_cnt").alias("__rt"), F.sum("curr_cnt").alias("__ct")
    )
    enr = aligned.join(F.broadcast(totals), "grain")
    p = F.greatest(
        F.col("ref_cnt") / F.greatest(F.col("__rt"), F.lit(1)), F.lit(epsilon)
    )
    q = F.greatest(
        F.col("curr_cnt") / F.greatest(F.col("__ct"), F.lit(1)), F.lit(epsilon)
    )
    return enr.select(
        "grain",
        "bucket",
        F.col("ref_cnt").cast("long").alias("ref_cnt"),
        F.col("curr_cnt").cast("long").alias("curr_cnt"),
        p.alias("ref_freq"),
        q.alias("curr_freq"),
        ((q - p) * F.log(q / p)).alias("psi_term"),
    )


def seasonality_state(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """The mergeable seasonal-mix state: additive per-(grain, bucket)
    counts (O(31) rows per append). SUM-merging any number of state
    appends then comparing equals the batch comparison over the unioned
    raw events EXACTLY — counts are the sufficient statistic for the
    whole PSI panel, so the prior corpus is never re-read."""
    return _seasonality_cells(df, ts_col, "cnt")


def seasonality_incremental(
    batch: DataFrame,
    state: DataFrame,
    ts_col: str = "ts",
    epsilon: float = 1e-4,
) -> DataFrame:
    """Vet an ingest batch's seasonal mix against the rolled-up
    :func:`seasonality_state` of the prior corpus — the seasonal member
    of the vet-the-increment family (did the new feed arrive with a
    different day-of-week/hour shape than history?). Output is
    identical in shape and semantics to :func:`seasonality_drift` with
    the prior corpus as ref and the batch as curr, and EXACTLY equal to
    it by the additive-counts argument on :func:`seasonality_state`."""
    ref_cells = state.groupBy("grain", "bucket").agg(
        F.sum("cnt").alias("ref_cnt")
    )
    return _seasonality_compare(
        ref_cells, _seasonality_cells(batch, ts_col, "curr_cnt"), epsilon
    )


def transition_stationary(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    n_iter: int = 8,
) -> DataFrame:
    """Long-run event mix implied by the first-order Markov transition
    matrix vs the mix actually observed — a STATIONARITY check on the
    behavioral process behind :func:`transition_drift`: when the chain's
    stationary distribution disagrees with today's observed mix, the
    stream is still converging (ramp-up, migration, incident recovery)
    and per-type frequency baselines will keep drifting on their own.

    The ``fit_kmeans`` pattern (similarity.py trainer family): the
    corpus reduces ONCE to the O(types²) transition-count panel via one
    per-user lag window + one grouped aggregate; that panel — bounded by
    the event-type vocabulary squared, a few thousand rows even for rich
    schemas, NEVER corpus-sized — is collected and power-iterated
    driver-side (an earlier all-DataFrame loop re-instantiated the
    un-materialized iteration subtree twice per step, the 2^k CTE
    blowup funnel_conversion checkpoints against; at O(types²) the
    collect is strictly cheaper than 8 tiny Spark jobs). TERMINAL states
    (types observed only as a transition target — the absorbing end of a
    funnel) get the standard implicit self-loop, making the matrix
    properly stochastic over every observed type: mass is conserved
    exactly, so the per-iteration renormalization is a float-hygiene
    no-op and can never divide by zero even on fully absorbing chains
    (a plain A→B→C funnel converges to all mass on C). The same
    convention is replayed in the oracle. NULL event types are valid
    states (the transition_drift null-safe alignment convention). At
    5-30 event types, 8 iterations converge to well under the 5-dp
    reporting precision for mixing chains (|λ₂| ≪ 1 for real
    clickstreams); absorbing chains converge geometrically to the
    absorption distribution.

    Output per observed state: ``stationary_share``, ``observed_share``
    (of ALL events), and their absolute ``divergence``.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    pairs = (
        df.select(
            F.col(type_col).alias("next_type"),
            F.lag(type_col).over(w).alias("prev_type"),
            F.row_number().over(w).alias("__rn"),
        )
        # structural first-row test, NOT prev_type IS NOT NULL: a NULL
        # event type is a valid state and its outgoing pairs must count
        .filter(F.col("__rn") > 1)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    # O(types²) rows — the documented driver-traffic bound; null-safe
    # join so a NULL-type state's row total attaches like any other
    pmat = [
        (r.prev_type, r.next_type, r.prob)
        for r in pairs.alias("p")
        .join(
            row_tot.alias("t"),
            F.expr("p.prev_type <=> t.prev_type"),
        )
        .select(
            F.col("p.prev_type").alias("prev_type"),
            "next_type",
            (F.col("n") / F.col("tot")).alias("prob"),
        )
        .collect()
    ]
    # deterministic accumulation order across runs (NULL types sort first)
    pmat.sort(key=lambda t: ((t[0] is not None, t[0] or ""),
                             (t[1] is not None, t[1] or "")))
    outgoing = {p for p, _, _ in pmat}
    states = sorted(
        outgoing | {n for _, n, _ in pmat},
        key=lambda s: (s is not None, s or ""),
    )
    if not states:
        return df.sparkSession.createDataFrame(
            [],
            "state string, stationary_share double, "
            "observed_share double, divergence double",
        )
    pi = {s: 1.0 / len(states) for s in states}
    for _ in range(n_iter):
        flow: dict = {s: 0.0 for s in states}
        for prev, nxt, prob in pmat:
            flow[nxt] += pi[prev] * prob
        for s in states:
            if s not in outgoing:  # terminal: implicit self-loop
                flow[s] += pi[s]
        # mass is conserved exactly (stochastic matrix + self-loops);
        # renormalize anyway to pin the float total at 1, mirroring the
        # oracle — total can never be 0 now
        total = sum(flow[s] for s in states)
        pi = {s: flow[s] / total for s in states}
    pi_df = df.sparkSession.createDataFrame(
        [(s, pi[s]) for s in states], "state string, pi double"
    )
    n_events = df.agg(F.count(F.lit(1)).alias("__n"))
    observed = df.groupBy(F.col(type_col).alias("state")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return (
        pi_df.alias("s")
        .join(observed.alias("o"), F.expr("s.state <=> o.state"), "left")
        .fillna({"__cnt": 0})
        .crossJoin(F.broadcast(n_events))
        .select(
            F.col("s.state").alias("state"),
            F.col("s.pi").alias("stationary_share"),
            (F.col("__cnt") / F.col("__n")).alias("observed_share"),
            F.abs(
                F.col("s.pi") - F.col("__cnt") / F.col("__n")
            ).alias("divergence"),
        )
    )


def touch_attribution(
    df: DataFrame,
    conversion_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    conversion event, which NON-conversion event type opened the path
    (first touch) and which one immediately preceded it (last touch) —
    the two textbook attribution models, reported side by side per
    touch type. A conversion with no prior touch (the user's first
    event) lands in the ``<none>`` bucket so counts always total the
    conversion count.

    ONE window pass carries both models: per user in (ts, order) order,
    ``first/last(non-conversion type, ignore nulls)`` over the
    rows-preceding frame — per-user state is bounded by a user's own
    history (the sessionize partition premise), and the corpus reduces
    to an O(models × types) panel in one aggregate. No self-joins: the
    naive "join conversions to all earlier events" shape is quadratic
    in events-per-user and is exactly what this window form avoids.

    Output: ``model ('first_touch'|'last_touch'), touch_type,
    conversions, share`` (share of all conversions).
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col(type_col) != conversion_type, F.col(type_col))
    conv = (
        df.withColumn("__first", F.first(touch, ignorenulls=True).over(w))
        .withColumn("__last", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col(type_col) == conversion_type)
    )
    melted = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.coalesce("__first", F.lit("<none>")).alias(
                        "touch_type"
                    ),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.coalesce("__last", F.lit("<none>")).alias("touch_type"),
                ),
            )
        ).alias("a")
    ).select("a.model", "a.touch_type")
    counts = melted.groupBy("model", "touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("conversions")
    )
    totals = counts.groupBy("model").agg(
        F.sum("conversions").alias("__tot")
    )
    return counts.join(F.broadcast(totals), "model").select(
        "model",
        "touch_type",
        "conversions",
        (F.col("conversions") / F.col("__tot")).alias("share"),
    )


def survival_curve(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = 7,
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier survival curve for user lifetime ("time until
    churn") — the product-limit estimator the retention matrix cannot
    give, because :func:`retention_cohorts` treats every silent bucket
    as churn while KM handles RIGHT-CENSORING: a user still active near
    the end of the observation window hasn't churned, they just haven't
    been observed long enough.

    Definitions (all in whole days, floor of epoch-second differences
    so both engines agree bit-for-bit):

    - a user's lifetime starts at their first event;
    - a user has CHURNED if their last event is more than
      ``censor_days`` before the global observation end (the table's
      max timestamp); their duration is ``last - first``;
    - otherwise they are CENSORED at ``obs_end - first`` (alive for at
      least that long; KM removes them from the risk set without
      counting a death).

    Output: one row per distinct duration day present in the data —
    ``duration_days, at_risk, n_churned, n_censored, survival`` where
    ``survival`` is the running product ``Π (1 - d_i / n_i)`` over
    churn durations ≤ t, computed as ``exp(sum(ln(...)))`` (identical
    formula in the DuckDB oracle, so ULP behavior matches).

    Plan shape: one corpus-scale groupBy(user) → one tiny
    groupBy(duration) → two cumulative windows over the O(days) panel
    (documented O(panel) unpartitioned windows, the house convention
    for ≤ thousands of rows). NULL users/timestamps are dropped up
    front — a NULL identity has no lifetime.

    ``group_col`` draws PER-COHORT curves (acquisition channel,
    platform — how survival is actually consumed): each user is
    assigned the group value of their FIRST event (ties broken by the
    minimum group value, so the assignment is deterministic — computed
    as a ``min(struct(epoch, group))`` inside the SAME per-user
    aggregate, no extra exchange), the observation end stays GLOBAL
    (one study window, the standard convention), and the risk set,
    churn counts and product-limit run PER GROUP (the panel windows
    partition by group, so they stay O(days) per cohort). Events with
    a NULL group are dropped up front like NULL users/timestamps.
    Output gains the ``group_col`` column, one curve per cohort.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns(
        [user_col, ts_col] + ([group_col] if group_col is not None else [])
    )
    if group_col is None:
        g_ev = g_life = g_day = g_part = g_out = ""
        g_filter = ""
        users_g = ""
    else:
        g_ev = f", `{group_col}` AS g"
        g_filter = f" AND `{group_col}` IS NOT NULL"
        users_g = ", MIN(named_struct('e', e, 'g', g)) AS mg"
        g_life = ", u.mg.g AS g"
        g_day = "g,"
        g_part = "PARTITION BY g "
        g_out = f"g AS `{group_col}`,"
    query = f"""
    WITH ev AS (
      SELECT `{user_col}` AS u, unix_timestamp(`{ts_col}`) AS e{g_ev}
      FROM {{src}}
      WHERE `{user_col}` IS NOT NULL AND `{ts_col}` IS NOT NULL{g_filter}),
    users AS (
      SELECT u, MIN(e) AS e0, MAX(e) AS e1{users_g}
      FROM ev GROUP BY u),
    bounds AS (SELECT MAX(e1) AS obs_end FROM users),
    lifetimes AS (
      SELECT
        CASE WHEN u.e1 < b.obs_end - {int(censor_days)} * 86400
             THEN CAST((u.e1 - u.e0) div 86400 AS BIGINT)
             ELSE CAST((b.obs_end - u.e0) div 86400 AS BIGINT) END
          AS duration_days,
        CASE WHEN u.e1 < b.obs_end - {int(censor_days)} * 86400
             THEN 1 ELSE 0 END AS churned{g_life}
      FROM users u CROSS JOIN bounds b),
    by_day AS (
      SELECT {g_day}duration_days,
        CAST(SUM(churned) AS BIGINT) AS n_churned,
        CAST(SUM(1 - churned) AS BIGINT) AS n_censored,
        CAST(COUNT(1) AS BIGINT) AS n_total
      FROM lifetimes GROUP BY {g_day}duration_days),
    risk AS (
      SELECT {g_day}duration_days, n_churned, n_censored,
        CAST(SUM(n_total) OVER ({g_part}ORDER BY duration_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS at_risk
      FROM by_day)
    SELECT {g_out}duration_days, at_risk, n_churned, n_censored,
      -- terminal-churn guard: when the whole remaining risk set churns
      -- at one duration, the factor is 0 and Spark's ln(0) is NULL (a
      -- windowed SUM would SKIP it, silently reporting the previous
      -- survival); emit -inf instead so exp(sum) collapses to exactly
      -- 0.0 from that row onward
      exp(SUM(CASE WHEN n_churned >= at_risk
                   THEN CAST('-Infinity' AS DOUBLE)
                   ELSE ln(1.0 - n_churned / CAST(at_risk AS DOUBLE)) END)
          OVER ({g_part}ORDER BY duration_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        AS survival
    FROM risk"""
    return df.sparkSession.sql(query, src=df)


def survival_report(curve: DataFrame) -> DataFrame:
    """Survival-analysis health panel — the O(1) ``(metric, value)``
    report member of the survival family, computed FROM a
    :func:`survival_curve` / :func:`survival_from_state` table (O(days)
    input, so this is a panel over a panel — no corpus touch):

    - ``n_users`` — total lifetimes observed (churned + censored);
    - ``n_churned`` / ``churn_rate`` and ``censoring_rate`` — how much
      of the curve is real events vs right-censoring (a censoring rate
      near 1 means the observation window is too short to say
      anything);
    - ``median_survival_days`` — the first duration whose survival is
      ≤ 0.5, the number product teams actually quote (NULL when the
      curve never crosses 0.5 — more than half the population outlives
      the window);
    - ``survival_7d`` / ``survival_30d`` — the curve read at the
      standard horizons (step-function convention: the value of the
      last duration ≤ the horizon; 1.0 when nothing happened yet).

    Grouped curves: call per cohort (filter) or melt externally — the
    panel is deliberately single-curve, matching ``linkage_report``.
    """
    agg = curve.agg(
        F.sum(F.col("n_churned") + F.col("n_censored"))
        .cast("double")
        .alias("n_users"),
        F.sum("n_churned").cast("double").alias("n_churned"),
        F.min(
            F.when(F.col("survival") <= 0.5, F.col("duration_days"))
        ).cast("double").alias("median_survival_days"),
        F.max(
            F.when(
                F.col("duration_days") <= 7,
                F.struct("duration_days", "survival"),
            )
        )["survival"].alias("s7"),
        F.max(
            F.when(
                F.col("duration_days") <= 30,
                F.struct("duration_days", "survival"),
            )
        )["survival"].alias("s30"),
    )
    metrics = [
        ("n_users", F.col("n_users")),
        ("n_churned", F.col("n_churned")),
        ("churn_rate", F.col("n_churned") / F.col("n_users")),
        (
            "censoring_rate",
            (F.col("n_users") - F.col("n_churned")) / F.col("n_users"),
        ),
        ("median_survival_days", F.col("median_survival_days")),
        ("survival_7d", F.coalesce("s7", F.lit(1.0))),
        ("survival_30d", F.coalesce("s30", F.lit(1.0))),
    ]
    melted = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"), expr.alias("value")
                    )
                    for name, expr in metrics
                ]
            )
        ).alias("m")
    )
    return melted.select("m.metric", "m.value")


def ohlc_downsample(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Open-high-low-close time-bucket downsampling — the classic
    timeseries rollup (candlesticks, sensor decimation, metric
    pre-aggregation). For each ``(key, date_trunc(bucket, ts))`` cell:
    the first value (by ``(ts, id)`` — the id breaks timestamp ties so
    re-runs are deterministic), the max, the min, the last value, the
    row count and the mean.

    Plan shape: ONE hash exchange on ``(key, bucket)`` feeds both
    row_number windows (ascending and descending sorts reuse the same
    partitioning) and the final groupBy on the same keys — Spark
    inserts no second exchange. Window functions are used instead of
    ``min_by/max_by(value, struct(...))`` deliberately: composite
    ordering keys for arg-extremes are not portable across engines
    (DuckDB's ``arg_min`` takes scalar keys only), and the window
    formulation replays verbatim in the oracle.

    NULL timestamps/keys are dropped (no bucket to land in); NULL
    values participate in ``n_events`` but not in open/close (windows
    order by time, not value, so a NULL value can legitimately be the
    open — that is faithful to "first observation"). ``n_values``
    counts NON-NULL values — it is the mean's true denominator and the
    weight :func:`ohlc_rollup` must use (weighting by ``n_events``
    would bias the cascade whenever NULL values exist, because
    ``mean × n_events ≠ sum(v)`` then).
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([ts_col, key_col, val_col, id_col])
    if bucket not in ("minute", "hour", "day", "week"):
        raise ValueError(f"unsupported bucket {bucket!r}")
    query = f"""
    WITH src AS (
      SELECT `{key_col}` AS k, `{val_col}` AS v, `{id_col}` AS i,
             `{ts_col}` AS t, date_trunc('{bucket}', `{ts_col}`) AS b
      FROM {{src}}
      WHERE `{ts_col}` IS NOT NULL AND `{key_col}` IS NOT NULL),
    rn AS (
      SELECT k, b, v,
        ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY t, i) AS ra,
        ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY t DESC, i DESC) AS rd
      FROM src)
    SELECT k AS `{key_col}`,
      date_format(b, 'yyyy-MM-dd HH:mm:ss') AS bucket_start,
      MAX(CASE WHEN ra = 1 THEN v END) AS open,
      MAX(v) AS high,
      MIN(v) AS low,
      MAX(CASE WHEN rd = 1 THEN v END) AS close,
      CAST(COUNT(1) AS BIGINT) AS n_events,
      CAST(COUNT(v) AS BIGINT) AS n_values,
      AVG(v) AS mean
    FROM rn GROUP BY k, b"""
    return df.sparkSession.sql(query, src=df)


def survival_state(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    group_col: str | None = None,
) -> DataFrame:
    """Mergeable state for incremental survival analysis: per user, the
    first/last activity epochs (``u, e0, e1``). min/max are additive —
    merging any partition of the event history (day batches, region
    shards) through :func:`merge_survival_states` reproduces exactly
    the state of one pass over the union, so the KM curve can be
    re-drawn nightly from O(users) rows without ever re-reading the
    event corpus.

    With ``group_col`` the state also carries ``g`` — the group value
    at the user's first event (ties by min group). ``(e0, g)`` is a
    lexicographic-min semilattice: each batch's ``g`` is the min-group
    at that batch's min-epoch, so merging the pairs lexicographically
    reproduces exactly the single-pass assignment — grouped state
    stays additive."""
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns(
        [user_col, ts_col] + ([group_col] if group_col is not None else [])
    )
    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    if group_col is None:
        return base.groupBy(F.col(user_col).alias("u")).agg(
            F.min(F.unix_timestamp(ts_col)).alias("e0"),
            F.max(F.unix_timestamp(ts_col)).alias("e1"),
        )
    first = F.min(
        F.struct(
            F.unix_timestamp(ts_col).alias("e"),
            F.col(group_col).alias("g"),
        )
    )
    return (
        base.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(user_col).alias("u"))
        .agg(
            first.alias("m"),
            F.max(F.unix_timestamp(ts_col)).alias("e1"),
        )
        .select("u", F.col("m.e").alias("e0"), F.col("m.g").alias("g"), "e1")
    )


def merge_survival_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two survival states (same shape in, same shape out —
    grouped states merge ``(e0, g)`` lexicographically, see
    :func:`survival_state`)."""
    u = a.unionByName(b)
    if "g" not in u.columns:
        return u.groupBy("u").agg(
            F.min("e0").alias("e0"), F.max("e1").alias("e1")
        )
    return (
        u.groupBy("u")
        .agg(
            F.min(F.struct(F.col("e0").alias("e"), F.col("g").alias("g")))
            .alias("m"),
            F.max("e1").alias("e1"),
        )
        .select("u", F.col("m.e").alias("e0"), F.col("m.g").alias("g"), "e1")
    )


def survival_from_state(
    state: DataFrame,
    censor_days: int = 7,
    group_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier table from a (merged) survival state — identical
    output contract to :func:`survival_curve`, pinned by the
    state-vs-batch parity test. The observation end is the state's max
    ``e1`` (the merged view of "now"). Pass ``group_col`` (the output
    column name) to draw per-cohort curves from a grouped state (one
    that carries ``g``); the observation end stays global."""
    if group_col is None:
        g_sel = g_life = g_day = g_part = g_out = ""
    else:
        g_sel = ", g"
        g_life = ", u.g AS g"
        g_day = "g,"
        g_part = "PARTITION BY g "
        g_out = f"g AS `{group_col}`,"
    query = f"""
    WITH users AS (SELECT u, e0, e1{g_sel} FROM {{src}}),
    bounds AS (SELECT MAX(e1) AS obs_end FROM users),
    lifetimes AS (
      SELECT
        CASE WHEN u.e1 < b.obs_end - {int(censor_days)} * 86400
             THEN CAST((u.e1 - u.e0) div 86400 AS BIGINT)
             ELSE CAST((b.obs_end - u.e0) div 86400 AS BIGINT) END
          AS duration_days,
        CASE WHEN u.e1 < b.obs_end - {int(censor_days)} * 86400
             THEN 1 ELSE 0 END AS churned{g_life}
      FROM users u CROSS JOIN bounds b),
    by_day AS (
      SELECT {g_day}duration_days,
        CAST(SUM(churned) AS BIGINT) AS n_churned,
        CAST(SUM(1 - churned) AS BIGINT) AS n_censored,
        CAST(COUNT(1) AS BIGINT) AS n_total
      FROM lifetimes GROUP BY {g_day}duration_days),
    risk AS (
      SELECT {g_day}duration_days, n_churned, n_censored,
        CAST(SUM(n_total) OVER ({g_part}ORDER BY duration_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS at_risk
      FROM by_day)
    SELECT {g_out}duration_days, at_risk, n_churned, n_censored,
      -- terminal-churn guard (see survival_curve): ln(0) is NULL in
      -- Spark and windowed SUM skips NULLs; -inf makes survival 0.0
      exp(SUM(CASE WHEN n_churned >= at_risk
                   THEN CAST('-Infinity' AS DOUBLE)
                   ELSE ln(1.0 - n_churned / CAST(at_risk AS DOUBLE)) END)
          OVER ({g_part}ORDER BY duration_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        AS survival
    FROM risk"""
    return state.sparkSession.sql(query, src=state)


def ohlc_rollup(
    panel: DataFrame,
    key_col: str = "event_type",
    to_bucket: str = "day",
) -> DataFrame:
    """Roll an OHLC panel up to a coarser bucket WITHOUT re-reading raw
    events — the downsample cascade (minute → hour → day) every metrics
    store runs. OHLC cells are themselves mergeable: the coarser open
    is the open of the earliest fine bucket, close the close of the
    latest, high/low the extremes, count the sum, mean the
    ``n_values``-weighted mean (NON-NULL value counts — weighting by
    ``n_events`` would bias cells containing NULL values, since the
    fine mean averages non-NULLs only; an all-NULL coarse cell yields a
    NULL mean). Input is :func:`ohlc_downsample` output (or a previous
    rollup — ``n_values`` passes through, so cascades compose);
    ``bucket_start`` strings parse back with ``to_timestamp`` so panels
    stay engine-portable at rest."""
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    ensure_safe_columns([key_col])
    if to_bucket not in ("hour", "day", "week"):
        raise ValueError(f"unsupported rollup bucket {to_bucket!r}")
    query = f"""
    WITH src AS (
      SELECT `{key_col}` AS k,
        to_timestamp(bucket_start, 'yyyy-MM-dd HH:mm:ss') AS fb,
        open, high, low, close, n_events, n_values, mean
      FROM {{src}}),
    rn AS (
      SELECT k, date_trunc('{to_bucket}', fb) AS b, open, high, low,
        close, n_events, n_values, mean,
        ROW_NUMBER() OVER (PARTITION BY k, date_trunc('{to_bucket}', fb)
                           ORDER BY fb) AS ra,
        ROW_NUMBER() OVER (PARTITION BY k, date_trunc('{to_bucket}', fb)
                           ORDER BY fb DESC) AS rd,
        -- the weighted-mean numerator accumulates through an ORDERED
        -- running sum (not a bare SUM): float addition is not
        -- associative, and only a pinned order makes the rollup
        -- bit-reproducible across runs and engines. The weight is
        -- n_values (the fine mean's true denominator): mean*n_values
        -- = sum of that cell's non-NULL values exactly; an all-NULL
        -- cell contributes NULL*0, which the running SUM skips
        SUM(mean * n_values) OVER (
          PARTITION BY k, date_trunc('{to_bucket}', fb) ORDER BY fb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cwm
      FROM src)
    SELECT k AS `{key_col}`,
      date_format(b, 'yyyy-MM-dd HH:mm:ss') AS bucket_start,
      MAX(CASE WHEN ra = 1 THEN open END) AS open,
      MAX(high) AS high,
      MIN(low) AS low,
      MAX(CASE WHEN rd = 1 THEN close END) AS close,
      CAST(SUM(n_events) AS BIGINT) AS n_events,
      CAST(SUM(n_values) AS BIGINT) AS n_values,
      CASE WHEN SUM(n_values) = 0 THEN CAST(NULL AS DOUBLE)
           ELSE MAX(CASE WHEN rd = 1 THEN cwm END)
                / CAST(SUM(n_values) AS DOUBLE) END AS mean
    FROM rn GROUP BY k, b"""
    return panel.sparkSession.sql(query, src=panel)


def bucket_gaps(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str | None = None,
    granularity: str = "hour",
) -> DataFrame:
    """Calendar-spine gap detection — the ingest check
    :func:`completeness_timeseries` structurally cannot do: that panel
    profiles buckets that HAVE rows, so a bucket with ZERO rows (the
    feed was down for three hours) is silently absent from it. Here
    the expected spine is generated per key (``sequence`` from the
    key's first to last observed bucket) and anti-joined against the
    observed buckets. Output, one row per key::

        key, n_expected, n_observed, n_missing, longest_gap

    ``longest_gap`` is the longest run of consecutive missing buckets
    (gaps-and-islands over the missing set); 0 when the series is
    complete. Keys are judged against their OWN lifespan, not the
    global range — a key that legitimately starts mid-month is not
    "missing" its prehistory.

    Scale shape: the corpus reduces to distinct (key, bucket) in one
    pass; the spine explodes O(keys × buckets-per-key) rows — the
    CALENDAR's size, not the data's (8,760 cells per key-year at
    hourly grain); everything downstream is keyed windows over that
    spine. NULL keys form their own series; NULL timestamps are
    dropped.
    """
    from pyspark_data_drift_detector_spark.functions.quoting import (
        ensure_safe_columns,
    )

    step = {"hour": 3600, "day": 86400}.get(granularity)
    if step is None:
        raise ValueError(f"unsupported granularity {granularity!r}")
    cols = [ts_col] + ([key_col] if key_col else [])
    ensure_safe_columns(cols)
    key_expr = f"`{key_col}`" if key_col else "'__all__'"
    query = f"""
    WITH obs AS (
      SELECT DISTINCT {key_expr} AS k,
        date_trunc('{granularity}', `{ts_col}`) AS b
      FROM {{src}} WHERE `{ts_col}` IS NOT NULL),
    bounds AS (SELECT k, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY k),
    spine AS (
      SELECT k, explode(sequence(b0, b1, interval {step} second)) AS b
      FROM bounds),
    missing AS (
      SELECT s.k, s.b FROM spine s LEFT ANTI JOIN obs o
      ON s.k <=> o.k AND s.b = o.b),
    runs AS (
      SELECT k, COUNT(1) AS run_len
      FROM (
        SELECT k, b,
          unix_timestamp(b) div {step}
            - ROW_NUMBER() OVER (PARTITION BY k ORDER BY b) AS g
        FROM missing)
      GROUP BY k, g),
    gap_stats AS (
      SELECT k, CAST(SUM(run_len) AS BIGINT) AS n_missing,
             CAST(MAX(run_len) AS BIGINT) AS longest_gap
      FROM runs GROUP BY k)
    SELECT bo.k AS key,
      CAST((unix_timestamp(bo.b1) - unix_timestamp(bo.b0)) div {step} + 1
           AS BIGINT) AS n_expected,
      oc.n_observed,
      COALESCE(g.n_missing, 0) AS n_missing,
      COALESCE(g.longest_gap, 0) AS longest_gap
    FROM bounds bo
    JOIN (SELECT k, CAST(COUNT(1) AS BIGINT) AS n_observed
          FROM obs GROUP BY k) oc ON bo.k <=> oc.k
    LEFT JOIN gap_stats g ON bo.k <=> g.k"""
    return df.sparkSession.sql(query, src=df)
