"""Physical-plan regression tests: pushdown, pruning, shuffle counts.

These encode the 100 TB performance model: if a future change breaks
predicate pushdown or adds a shuffle, these fail even though results stay
correct at test scale.
"""

import re

import pytest
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift
from pyspark_data_drift_detector_spark.operators.frequency import frequency_table
from pyspark_data_drift_detector_spark.operators.groups import group_categorical_stats, top_groups
from pyspark_data_drift_detector_spark.operators.numeric_drift import numeric_drift_pair
from pyspark_data_drift_detector_spark.operators.profile import numeric_profile
from pyspark_data_drift_detector_spark.plans.inspect import (
    assert_column_pruned,
    assert_filter_pushed,
    assert_max_shuffles,
    codegen_stage_count,
    count_scans,
    count_shuffles,
    pushed_filters,
    read_schemas,
    simple_plan,
    sorted_windows,
)


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    # a cached lineitem from another module would substitute InMemoryRelation
    # for the parquet scan and erase PushedFilters/ReadSchema from the plan —
    # these tests must see the real scan regardless of execution order
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_profile_prunes_columns(li):
    prof = numeric_profile(li, columns=["l_quantity", "l_discount"], quantiles=(0.5,))
    # only the profiled columns are read from parquet
    assert_column_pruned(prof, "l_extendedprice")
    assert_column_pruned(prof, "l_returnflag")
    schemas = read_schemas(prof)
    assert any("l_quantity" in s for s in schemas)


def test_profile_single_scan_no_extra_shuffle(li):
    prof = numeric_profile(li, columns=["l_quantity"], quantiles=())
    assert count_scans(prof) == 1
    # global aggregate: one partial->final exchange at most
    assert_max_shuffles(prof, 1)


def test_filter_pushdown_on_split(li):
    ref = li.filter(F.col("l_orderkey") % 2 == 0).select("l_quantity", "l_orderkey")
    filters = pushed_filters(ref)
    assert filters  # IsNotNull at minimum reaches the scan
    prof = numeric_profile(li.filter(F.col("l_quantity") > 10), columns=["l_quantity"], quantiles=())
    assert_filter_pushed(prof, "l_quantity")


def test_frequency_table_one_shuffle_per_stage(li):
    freq = frequency_table(li, ["l_returnflag", "l_linestatus"])
    # small shape (size gate): cells groupBy shuffle + ONE window exchange
    # shared by the totals window — no totals aggregate, no broadcast job
    assert_max_shuffles(freq, 2)


def test_key_totals_large_shape_has_no_window(li, monkeypatch):
    """Above the size gate, per-key totals must come from a groupBy +
    broadcast join — never a window that buffers every category cell of a
    column in one task (the 100 TB cliff)."""
    from pyspark_data_drift_detector_spark.operators import frequency as freq_mod
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    monkeypatch.setattr(freq_mod, "SALT_SIZE_THRESHOLD_BYTES", 0)
    freq = frequency_table(li, ["l_returnflag", "l_linestatus"])
    plan = simple_plan(freq)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_pair_profile_single_scan_each_side(li):
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    curr = li.filter(F.col("l_orderkey") % 2 == 1)
    drift = numeric_drift_pair(ref, curr, columns=["l_quantity"], quantiles=(0.25, 0.5, 0.75))
    # the codegen-able stats and the TypedImperative quantile sketches
    # aggregate in SEPARATE subtrees (cross-joined 1-row aggregates) so the
    # stats stay inside whole-stage codegen → 2 scans per side, 1 agg
    # shuffle per subtree
    assert count_scans(drift) == 4
    assert_max_shuffles(drift, 2)
    # without quantiles the profile is a single scan per side
    noq = numeric_drift_pair(
        ref, curr, columns=["l_quantity"], quantiles=(0.25, 0.5, 0.75), exact_quantiles=False
    )
    assert count_scans(noq) == 4


@pytest.fixture
def top_k_callers(li):
    """The three callers of ``frequency.with_top_k``, as builders over one
    split, with the keys their per-key windows partition by."""
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    curr = li.filter(F.col("l_orderkey") % 2 == 1)
    dims = ["l_returnflag", "l_linestatus"]
    return {
        "categorical_drift": (lambda: categorical_drift(ref, curr, dims, top_k=2), 1),
        "group_categorical_stats": (
            lambda: group_categorical_stats(ref, curr, dims, dims, top_k=2),
            3,
        ),
        "top_groups": (lambda: top_groups(ref, curr, dims, top_k=2), 1),
    }


def test_top_k_callers_rank_and_total_in_one_window_exchange(top_k_callers):
    """Below the size gate each caller ranks and totals its cells over ONE
    per-key window exchange (plus the cells aggregate's own): no cutoff
    broadcast, no salted stage, nothing cached."""
    for name, (build, n_keys) in top_k_callers.items():
        df = build()
        plan = simple_plan(df)
        assert count_shuffles(df) == 2, (name, plan)
        assert "BroadcastExchange" not in plan and "__lrn" not in plan, name
        assert "InMemoryTableScan" not in plan, name
        assert {arity for arity, _ in sorted_windows(df)} == {n_keys}, name
    df = top_k_callers["categorical_drift"][0]()
    df.collect()  # AQE: codegen markers appear in the final plan only
    assert codegen_stage_count(df) >= 1


def test_top_k_callers_salted_shape_matches(top_k_callers, monkeypatch):
    """Above the size gate each caller ranks on (key, salt) slices and joins
    broadcast cutoffs: the only unsalted per-key windows rank the local
    survivors (``__rn``), none runs over the cells, and no window computes
    totals. Both shapes return the same rows."""
    from pyspark_data_drift_detector_spark.functions.lifetime import owned_run
    from pyspark_data_drift_detector_spark.operators import frequency as freq_mod

    def rows(df):
        return sorted(
            tuple(round(v, 12) if isinstance(v, float) else v for v in r) for r in df.collect()
        )

    small = {name: rows(build()) for name, (build, _) in top_k_callers.items()}
    monkeypatch.setattr(freq_mod, "SALT_SIZE_THRESHOLD_BYTES", 0)
    for name, (build, _) in top_k_callers.items():
        with owned_run():  # keeps the plan lazy, so its shape can be read
            plan = simple_plan(build())
        windows = [line for line in plan.splitlines() if "Window [" in line]
        assert "__lrn" in plan and "BroadcastExchange" in plan, name
        assert windows and all(re.search(r" AS __l?rn_", w) for w in windows), (name, windows)
        assert rows(build()) == small[name], name


def test_rowpath_score_same_plan_shape(li):
    """M17 scoring is pure expression math over the joined profile — it must
    not add scans or shuffles versus the weighted scorer."""
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    curr = li.filter(F.col("l_orderkey") % 2 == 1)
    drift = numeric_drift_pair(
        ref, curr, columns=["l_quantity"],
        quantiles=(0.25, 0.5, 0.75, 0.95, 0.99), score_mode="row_path",
    )
    assert count_scans(drift) == 4
    assert_max_shuffles(drift, 2)


def test_running_profile_batch_plan(spark, sf_dir):
    """Cumulative profile: one scan, one groupBy shuffle + one window
    shuffle — history is never rescanned."""
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events
    from pyspark_data_drift_detector_spark.streaming.profiles import running_profile_batch

    cum = running_profile_batch(load_events(spark, sf_dir))
    assert count_scans(cum) == 1
    assert count_shuffles(cum) <= 2


def test_edf_and_counts_quantiles_use_distributed_cumsum(li, monkeypatch):
    """VERDICT r3 #1: the exact-EDF and exact-quantile-by-counts paths must
    NOT contain a per-column single-task cumulative window. Every sorted
    window in those plans has to be partitioned on ≥ 2 keys (column +
    range bucket) so parallelism is columns × buckets.

    The r15 small-histogram fast path (one NumPy task below
    SMALL_CUMSUM_CELLS) is forced OFF here: this test pins the
    100 TB distributed shape; the fast path's value equivalence is pinned
    by test_distribution.test_bucketed_cumsum_matches_naive_window."""
    from pyspark_data_drift_detector_spark.operators import cumulative
    from pyspark_data_drift_detector_spark.operators.distribution import edf_distances
    from pyspark_data_drift_detector_spark.plans.inspect import sorted_windows

    monkeypatch.setattr(cumulative, "SMALL_CUMSUM_CELLS", -1)

    def check(df):
        wins = sorted_windows(df)
        assert wins, "expected window operators in the plan"
        # windows ordered over the cell values must be bucketed (arity ≥ 2);
        # arity-1 sorted windows may only order the tiny per-bucket totals
        # table (sorted by __bucket)
        for arity, sort in wins:
            if "value" in sort:
                assert arity >= 2, f"single-key window over cell values: {wins}"
            elif arity < 2:
                assert "__bucket" in sort, f"unexpected arity-1 sorted window: {wins}"
        assert any(a >= 2 for a in [a for a, _ in wins]), f"no bucketed window: {wins}"

    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    curr = li.filter(F.col("l_orderkey") % 2 == 1)
    check(edf_distances(ref, curr, ["l_quantity", "l_extendedprice"]))
    check(
        numeric_profile(
            li, columns=["l_quantity"], quantiles=(0.25, 0.5, 0.75), quantile_mode="counts"
        )
    )
    # the r8 single-scan counts rewrites keep the same bucketed shape AND
    # read the raw table exactly once for their rank statistics
    from pyspark_data_drift_detector_spark.operators.distribution import (
        equidepth_histogram,
    )
    from pyspark_data_drift_detector_spark.operators.profile import robust_profile
    from pyspark_data_drift_detector_spark.plans.inspect import count_scans

    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    # materialize=False exposes the lazy plan — the default eagerly
    # checkpoints (releasing the cells cache) which hides the windows
    ed = equidepth_histogram(
        li, ["l_quantity", "l_tax"], bins=4, quantile_mode="counts",
        materialize=False,
    )
    check(ed)
    # every consumer (edge fit + binning) reads the PERSISTED value
    # histogram — the raw table materializes it once
    assert "InMemoryTableScan" in simple_plan(ed)
    rp = robust_profile(
        li, ["l_quantity", "l_tax"], quantile_mode="counts", materialize=False
    )
    check(rp)
    assert "InMemoryTableScan" in simple_plan(rp)


def test_complex_profile_single_pass(spark, sf_dir):
    """Complex-type profiling: side-tagged union -> ONE wide aggregate
    (2 scans of the source, a single agg exchange)."""
    from pyspark_data_drift_detector_spark.operators.schema_drift import complex_column_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    prof = complex_column_profile(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        ["toks"],
    )
    assert count_scans(prof) == 2
    assert_max_shuffles(prof, 1)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_decontaminate_broadcasts_benchmark(docs):
    """The benchmark n-gram set must broadcast: the corpus side may shuffle
    only for its own final per-doc aggregate, never against the benchmark."""
    from pyspark_data_drift_detector_spark.operators.quality import decontaminate
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    out = decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0), n=4)
    # assert on the pre-execution plan: the broadcast is hint-forced so it
    # already appears there, and after collect() AQE's toString carries BOTH
    # final and initial plans, double-counting every Exchange
    plan = simple_plan(out)
    assert "BroadcastHashJoin" in plan
    # one exchange for the per-doc matched-ngram aggregate; none to co-locate
    # the corpus with the benchmark
    assert_max_shuffles(out, 2)


def test_stratified_sample_no_corpus_shuffle(docs):
    """Membership is a projection: the only exchange computes the tiny
    per-stratum count table; the corpus side broadcast-joins and filters."""
    from pyspark_data_drift_detector_spark.operators.sampling import stratified_sample
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    out = stratified_sample(docs, ["lang"], 10)
    assert "BroadcastHashJoin" in simple_plan(out)
    assert_max_shuffles(out, 1)


def test_hash_split_is_pure_projection(docs):
    """Split assignment must add zero exchanges and zero extra scans."""
    from pyspark_data_drift_detector_spark.operators.sampling import hash_split

    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert count_shuffles(out) == 0
    assert count_scans(out) == 1


def test_repetition_is_shuffle_free(docs):
    """Per-doc repetition stats are computed inside the row (sort +
    run-length fold) — a narrow map with zero hash exchanges."""
    from pyspark_data_drift_detector_spark.operators.quality import repetition_stats

    assert count_shuffles(repetition_stats(docs)) == 0


def test_boilerplate_two_level_aggregation(docs):
    """Corpus boilerplate is a two-level aggregation — (doc, gram) then
    gram — bounded exchanges with map-side partial aggregation."""
    from pyspark_data_drift_detector_spark.operators.quality import boilerplate_ngrams
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    out = boilerplate_ngrams(docs)
    assert_max_shuffles(out, 2)
    # partial_ markers prove map-side combine before each exchange
    assert "partial_" in simple_plan(out)


def test_quality_filter_shuffle_free(docs):
    """The composite quality gate is a pure narrow map — every statistic
    comes from the row's own token array; zero exchanges."""
    from pyspark_data_drift_detector_spark.operators.quality import quality_filter

    assert count_shuffles(quality_filter(docs)) == 0


def test_chunk_documents_narrow_fanout(docs):
    """Chunking is explode-inside-the-row: no hash/range exchange (the
    small-input fan-out is round-robin only), one scan."""
    from pyspark_data_drift_detector_spark.operators.text import chunk_documents

    out = chunk_documents(docs)
    assert count_shuffles(out) == 0
    assert count_scans(out) == 1


def test_weighted_sample_uses_takeordered(docs):
    """Top-k must plan as TakeOrderedAndProject (per-partition k-row heaps,
    O(k) driver merge) — never a global range-partitioned sort."""
    from pyspark_data_drift_detector_spark.operators.sampling import weighted_sample
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    out = weighted_sample(docs, 50, "n_chars")
    plan = simple_plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """Session-window aggregation: ONE hash exchange on the session key
    with map-side partial merging — no per-key sort window, no second
    pass."""
    from pyspark_data_drift_detector_spark.operators.temporal import sessionize
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    out = sessionize(load_events(spark, sf_dir))
    assert_max_shuffles(out, 1)


def test_detect_drift_plan_construction_budget(spark, sf_dir):
    """Driver-side plan construction must stay SQL-string-assembled: the
    Column-API version of these builders cost ~48k synchronous py4j
    round-trips (~9s of driver time vs 0.1s of execution — the r4
    finding). Budget leaves ~3x headroom over the converted ~11k."""
    import py4j.clientserver as cs

    from pyspark_data_drift_detector_spark import detect_drift

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ref = df.filter(F.col("l_orderkey") % 2 == 0)
    curr = df.filter(F.col("l_orderkey") % 2 == 1)
    detect_drift(ref, curr).collect()  # warm every lazy import/JIT path

    counter = {"n": 0}
    orig = cs.ClientServerConnection.send_command

    def patched(self, command):
        counter["n"] += 1
        return orig(self, command)

    cs.ClientServerConnection.send_command = patched
    try:
        detect_drift(ref, curr)
    finally:
        cs.ClientServerConnection.send_command = orig
    assert counter["n"] < 30_000, (
        f"detect_drift made {counter['n']} py4j round-trips building its plan "
        "— a builder has regressed from SQL-string assembly to per-expression "
        "Column construction (see README 'Scale design rules')"
    )


def test_multimodal_never_shuffles_payload_bytes(docs):
    """Payload-carrying frames must reach mapInPandas as a narrow map: a
    round-robin repartition would move every payload byte (the widest
    column in the table) across the wire — r4's image_features/frame_sample
    regression. Parallelism comes from the scan's split count instead."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        decode_images,
        sample_frames,
    )

    with_payload = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    assert count_shuffles(decode_images(with_payload)) == 0
    assert count_shuffles(sample_frames(with_payload)) == 0


def test_ensure_min_partitions_refuses_binary(docs):
    """The fan-out helper must pass binary-typed frames through unchanged
    (no repartition, no .rdd probe side effects) unless explicitly allowed."""
    from pyspark_data_drift_detector_spark.operators.parallelism import (
        ensure_min_partitions,
    )

    one_split = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).coalesce(1)
    assert ensure_min_partitions(one_split) is one_split
    # text frames still fan out
    narrow = docs.select("doc_id", "text").coalesce(1)
    fanned = ensure_min_partitions(narrow, target=8)
    assert fanned.rdd.getNumPartitions() == 8


def test_top_k_salt_gate(li, monkeypatch):
    """``with_top_k`` gates on Catalyst's size estimate: small frames take a
    single per-key window; past ``SALT_SIZE_THRESHOLD_BYTES`` the local
    __lrn rank stage with (key, salt) partitions appears — and both shapes
    return identical members and totals."""
    from pyspark_data_drift_detector_spark.functions.lifetime import owned_run
    from pyspark_data_drift_detector_spark.operators import frequency as freq_mod
    from pyspark_data_drift_detector_spark.operators.frequency import (
        pair_frequency_cells,
        with_top_k,
    )

    cells = pair_frequency_cells(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1),
        ["l_returnflag", "l_linestatus"],
    ).filter(F.col("value").isNotNull())

    def build():
        return with_top_k(
            cells, 3, count_cols=("ref_cnt", "curr_cnt"), sums={"n": F.sum("ref_cnt")}
        )

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    auto = build()
    assert "__lrn" not in simple_plan(auto)  # tiny estimate → unsalted
    monkeypatch.setattr(freq_mod, "SALT_SIZE_THRESHOLD_BYTES", 0)
    with owned_run():
        forced = build()
        assert "__lrn" in simple_plan(forced)
        assert any(a >= 2 for a, _ in sorted_windows(forced))
        assert rows(auto) == rows(forced)


def test_mergeable_state_plan_shapes(li, docs):
    """Round-5 mergeable families: the state builders are one melt+groupBy
    pass; window merges are single aggregates over the state — no data
    re-scan shape anywhere."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merge_categories,
        merged_category_cells,
        merged_distinct,
        partitioned_categories,
        partitioned_distinct,
    )

    cat_state = partitioned_categories(li, ["l_returnflag"], "pmod(l_orderkey, 4)")
    assert count_scans(cat_state) == 1
    assert count_shuffles(cat_state) == 1  # the state groupBy
    cells = merged_category_cells(cat_state, ["0"], ["1"])
    assert count_scans(cells) == 1  # still ONE scan end-to-end
    hll_state = partitioned_distinct(li, ["l_returnflag"], "pmod(l_orderkey, 4)")
    assert count_scans(hll_state) == 1
    assert count_shuffles(merged_distinct(hll_state)) <= 2
    assert count_shuffles(merge_categories(cat_state)) <= 3


def test_incremental_window_query_plan(spark, sf_dir, tmp_path):
    """A window query over state tables is one small plan per half, with
    no per-side sub-plans and no joins: the numeric half is ONE hash
    exchange (the conditional aggregate over profile + KLL rows), the
    categorical half the cells groupBy exchange plus one column_name
    window exchange (totals and top-k ranks share it)."""
    from pyspark_data_drift_detector_spark.operators.mergeable import (
        merged_categorical_drift,
        merged_drift,
        partitioned_categories,
        partitioned_profile,
        partitioned_quantiles,
    )
    from pyspark_data_drift_detector_spark.pipeline import detect_drift_incremental
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    num, pid = ["l_quantity", "l_discount"], "pmod(l_orderkey, 4)"
    states = {
        "prof": partitioned_profile(li, num, pid),
        "kll": partitioned_quantiles(li, num, pid),
        "cats": partitioned_categories(li, ["l_returnflag", "l_linestatus"], pid),
    }
    for name, df in states.items():
        df.write.parquet(str(tmp_path / name))
    prof, kll, cats = (spark.read.parquet(str(tmp_path / n)) for n in states)
    ref, curr = ["0", "1"], ["2", "3"]

    numeric = merged_drift(prof, ref, curr, quantile_parts=kll)
    categorical = merged_categorical_drift(cats, ref, curr)
    both = detect_drift_incremental(prof, cats, ref, curr, quantile_state=kll)
    for df, shuffles in ((numeric, 1), (categorical, 2), (both, 3)):
        assert count_shuffles(df) == shuffles
        assert "BroadcastExchange" not in simple_plan(df)
        assert "Join" not in simple_plan(df)
    assert "Window" in simple_plan(categorical)


def test_mmd_drift_plan(spark, sf_dir):
    """MMD: narrow feature map over the scans, one O(D)-row groupBy, one
    final aggregate — no join, no window, no per-row Python."""
    from pyspark_data_drift_detector_spark.operators.similarity import mmd_drift
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = mmd_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        dim=64,
        n_features=8,
    )
    plan = simple_plan(out)
    assert "Join" not in plan.replace("CrossJoin", "")  # allow none at all
    assert "Window" not in plan
    assert count_shuffles(out) <= 2


def test_interval_join_plan(spark, sf_dir):
    """Interval join: equi-join on (key, bucket) — never a broadcast
    nested loop / cartesian over the range predicate."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        interval_join,
        sessionize,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan
    from pyspark_data_drift_detector_spark.sources.snapshot import load_events

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    sessions = sessionize(load_events(spark, sf_dir)).select(
        "user_id", "session_start", "session_end"
    )
    plan = simple_plan(interval_join(ev, sessions))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Storage-level bucketing: two tables bucketed on the join key join
    with ZERO exchanges — the pre-shuffled-at-write-time contract a
    recurring 100 TB fact-to-fact join relies on."""
    from pyspark_data_drift_detector_spark.sources.bucketing import (
        colocated_join,
        write_bucketed,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderkey AS l_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_b", ["l_orderkey"], 4, path=str(tmp_path / "li_b"))
    write_bucketed(orders, "ord_b", ["l_orderkey"], 4, path=str(tmp_path / "ord_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must pick SortMergeJoin — the shape
        # whose Exchange the bucketing removes
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, "li_b", "ord_b", ["l_orderkey"])
        assert count_shuffles(joined) == 0
        from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

        assert "SortMergeJoin" in simple_plan(joined)
        # and it actually computes the right thing
        n = joined.count()
        assert n == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_salted_join_matches_plain_join(li, spark):
    """salted_join returns exactly the plain join's rows (inner and left),
    spreads a hot key across salt slices, and rejects unsupported join
    types."""
    from pyspark_data_drift_detector_spark.operators.parallelism import salted_join

    # hot key: one l_returnflag value dominates
    left = li.select("l_orderkey", "l_returnflag", "l_quantity")
    right = (
        li.groupBy("l_returnflag")
        .agg(F.avg("l_quantity").alias("avg_q"))
        .unionByName(
            spark.createDataFrame([("Z", -1.0)], "l_returnflag string, avg_q double")
        )
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    plain_inner = rows(left.join(right, ["l_returnflag"]))
    assert rows(salted_join(left, right, ["l_returnflag"], 8)) == plain_inner
    lonly = left.unionByName(
        spark.createDataFrame(
            [(999999, "X", 0.0)], "l_orderkey long, l_returnflag string, l_quantity double"
        )
    )
    plain_left = rows(lonly.join(right, ["l_returnflag"], "left"))
    assert rows(salted_join(lonly, right, ["l_returnflag"], 8, how="left")) == plain_left
    with pytest.raises(ValueError, match="inner|left"):
        salted_join(left, right, ["l_returnflag"], 8, how="full")


def test_dedup_plan_construction_no_rdd_probe(spark, sf_dir):
    """ensure_min_partitions must size-gate on plan statistics, not
    df.rdd.getNumPartitions(): the RDD probe forces DataFrame->RDD
    conversion + full physical planning on the driver per call (several
    calls per dedup/similarity query). Building a dedup query's plan
    end-to-end must therefore never touch DataFrame.rdd."""
    from pyspark.sql import DataFrame as _DF

    from pyspark_data_drift_detector_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    calls = {"n": 0}
    orig = _DF.rdd

    def counting_rdd(self):
        calls["n"] += 1
        return orig.fget(self)

    _DF.rdd = property(counting_rdd)
    try:
        out = minhash_lsh_pairs(docs, threshold=0.3)
        out.queryExecution if hasattr(out, "queryExecution") else None
        plan = out._jdf.queryExecution().simpleString()  # force planning path
        # neardup_clusters runs eagerly (count + iterate); its edge-index
        # sizing must come from the materializing count, not an .rdd probe
        from pyspark_data_drift_detector_spark.operators.dedup import (
            neardup_clusters,
        )

        n_clustered = neardup_clusters(out).count()
    finally:
        _DF.rdd = orig
    assert calls["n"] == 0, (
        f"dedup plan construction touched DataFrame.rdd {calls['n']}x — "
        "ensure_min_partitions has regressed to the physical-planning probe"
    )
    assert plan
    assert n_clustered >= 0


@pytest.mark.parametrize("hash_family", ["xxhash", "md5"])
def test_minhash_lsh_verified_plan(docs, hash_family):
    """The verified LSH plan caches nothing, joins nothing on a shingle,
    and explodes and aggregates the shingle index once: both sides of the
    band self-join and both verify joins reuse that aggregate's shuffle."""
    import re

    from pyspark_data_drift_detector_spark.operators.dedup import minhash_lsh_pairs
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    out = minhash_lsh_pairs(docs, threshold=0.3, hash_family=hash_family)
    assert "InMemoryRelation" not in out._jdf.queryExecution().optimizedPlan().toString()
    out.collect()
    # the final adaptive plan, where a reused shuffle shows as one line
    plan = simple_plan(out).split("== Initial Plan ==")[0]
    assert not re.search(r"Join \[[^\]]*shingle", plan)
    assert len(re.findall(r"Generate explode\(", plan)) == 1
    shuffles = [ln for ln in plan.splitlines() if "Exchange hashpartitioning(id#" in ln]
    assert sum("ReusedExchange" not in ln for ln in shuffles) == 1 < len(shuffles)


def test_round6_operators_prune_scans(spark, sf_dir):
    """The new operators' scans must read only the columns they use —
    a scan shipping the full row width for a 2-3 column computation is
    wrong at any scale."""
    from pyspark_data_drift_detector_spark.operators.distribution import (
        equidepth_histogram,
    )
    from pyspark_data_drift_detector_spark.operators.parallelism import (
        key_skew_profile,
    )
    from pyspark_data_drift_detector_spark.operators.profile import robust_profile
    from pyspark_data_drift_detector_spark.plans.inspect import (
        assert_column_pruned,
        count_shuffles,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    ed = equidepth_histogram(li, ["l_quantity", "l_extendedprice"], bins=4)
    assert_column_pruned(ed, "l_comment")
    assert_column_pruned(ed, "l_shipdate")

    rp = robust_profile(li, ["l_quantity", "l_tax"])
    assert_column_pruned(rp, "l_extendedprice")
    # both passes are wide ungrouped aggregates: partial-buffer
    # SinglePartition exchanges only — never a per-column-key
    # hash shuffle of raw deviation vectors
    from pyspark_data_drift_detector_spark.plans.inspect import formatted_plan

    assert "Exchange hashpartitioning" not in formatted_plan(rp)

    # materialize=False: the lazy plan (no localCheckpoint) is the one
    # the inspector can see file scans in; the default eager path is
    # covered by behavior tests
    ks = key_skew_profile(
        orders, ["o_orderstatus", "o_orderpriority"], materialize=False
    )
    assert_column_pruned(ks, "o_totalprice")
    assert_column_pruned(ks, "o_comment")


def test_checkpointed_operators_stay_plan_testable(spark, sf_dir):
    """Every operator that defaults to eager checkpoint-and-release must
    expose its lazy plan via ``materialize=False`` — otherwise pruning and
    shuffle properties become uninspectable (the round-7 regression)."""
    from pyspark_data_drift_detector_spark.operators.corpus import zipf_fit
    from pyspark_data_drift_detector_spark.operators.correlation import (
        mutual_information_drift,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        assert_column_pruned,
        read_schemas,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    zf = zipf_fit(docs, materialize=False)
    assert_column_pruned(zf, "quality_score")
    assert_column_pruned(zf, "url")

    mi = mutual_information_drift(
        orders.filter("o_orderkey % 2 = 0"),
        orders.filter("o_orderkey % 2 = 1"),
        [("o_orderstatus", "o_orderpriority")],
        materialize=False,
    )
    assert_column_pruned(mi, "o_totalprice")
    assert_column_pruned(mi, "o_comment")
    assert read_schemas(mi), "lazy MI plan must expose its file scans"


def test_round8_operators_plan_contracts(spark, sf_dir, monkeypatch):
    """Scale shapes of the round-8 operators: semantic_decontaminate is a
    pure narrow map (zero shuffles, one scan); cluster_balance assigns
    narrowly and aggregates once per side-union; pack_documents carries
    no full-corpus single-task window (its windows are bucketed by the
    prefix-sum infra — the r15 small-histogram fast path is forced OFF
    so this pins the 100 TB distributed shape); benford/completeness
    prune their scans."""
    from pyspark_data_drift_detector_spark.operators import cumulative

    monkeypatch.setattr(cumulative, "SMALL_CUMSUM_CELLS", -1)
    from pyspark_data_drift_detector_spark.operators.distribution import (
        benford_deviation,
    )
    from pyspark_data_drift_detector_spark.operators.similarity import (
        cluster_balance_drift,
        semantic_decontaminate,
    )
    from pyspark_data_drift_detector_spark.operators.temporal import (
        completeness_timeseries,
    )
    from pyspark_data_drift_detector_spark.operators.text import pack_documents
    from pyspark_data_drift_detector_spark.plans.inspect import (
        assert_column_pruned,
        count_scans,
        count_shuffles,
        sorted_windows,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    sd = semantic_decontaminate(emb, bench, threshold=0.9)
    assert count_shuffles(sd) == 0, "decontamination must stay a narrow map"
    assert count_scans(sd) == 1

    cb = cluster_balance_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        n_clusters=4,
    )
    # one groupBy(cluster) exchange + the O(clusters) share window
    assert count_shuffles(cb) <= 3

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pk = pack_documents(docs, budget=512)
    assert_column_pruned(pk, "lang")
    assert_column_pruned(pk, "source")
    for arity, sort in sorted_windows(pk):
        # the only arity-1 sorted windows allowed are over the tiny
        # per-bucket offsets table (sorted by __bucket), never the corpus
        if arity < 2:
            assert "__bucket" in sort, f"corpus-wide sorted window: {sort}"

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bf = benford_deviation(li, ["l_quantity", "l_tax"])
    assert_column_pruned(bf, "l_extendedprice")
    assert_column_pruned(bf, "l_comment")

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ct = completeness_timeseries(ev, "ts", ["user_id", "value"])
    assert_column_pruned(ct, "props")
    assert count_shuffles(ct) <= 1


def test_round8_diagnostics_plan_contracts(spark, sf_dir):
    """join_explosion_profile joins count tables, never rows (its
    exchanges carry aggregated counts); key_overlap_drift prunes to the
    key columns; pca_error_contributions is pure expression math — no
    per-row UDF, scans pruned to the analyzed columns."""
    from pyspark_data_drift_detector_spark.operators.anomaly import (
        pca_error_contributions,
    )
    from pyspark_data_drift_detector_spark.operators.categorical_drift import (
        key_overlap_drift,
    )
    from pyspark_data_drift_detector_spark.operators.parallelism import (
        join_explosion_profile,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        assert_column_pruned,
        simple_plan,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    je = join_explosion_profile(
        li.selectExpr("l_orderkey AS k"),
        orders.selectExpr("o_orderkey AS k"),
        ["k"],
    )
    assert_column_pruned(je, "l_comment")
    assert_column_pruned(je, "o_totalprice")

    ko = key_overlap_drift(
        orders.filter("o_orderkey % 2 = 0"),
        orders.filter("o_orderkey % 2 = 1"),
        ["o_custkey"],
    )
    assert_column_pruned(ko, "o_totalprice")
    assert_column_pruned(ko, "o_orderdate")

    pc = pca_error_contributions(
        li.limit(0).unionByName(li),  # keep the parquet scan visible
        li,
        ["l_quantity", "l_tax"],
        k=1,
        components=[[0.7071067811865476, 0.7071067811865476]],
    )
    plan = simple_plan(pc)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert_column_pruned(pc, "l_extendedprice")


def test_report_plan_construction_budgets(spark, sf_dir, docs):
    """The r10 composed reports must also stay SQL-string-assembled
    (the detect_drift budget's rationale): count py4j round-trips while
    BUILDING each report's plan. Budgets leave ~3x headroom over
    measured construction costs."""
    import py4j.clientserver as cs

    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        clean_corpus,
        corpus_drift_report,
    )
    from pyspark_data_drift_detector_spark.embedding_pipeline import (
        embedding_drift_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ref_d = docs.filter("doc_id % 2 = 0")
    curr_d = docs.filter("doc_id % 2 = 1")
    ref_e = emb.filter("vec_id % 2 = 0")
    curr_e = emb.filter("vec_id % 2 = 1")
    # warm lazy imports so the count measures plan construction alone
    corpus_drift_report(ref_d, curr_d)
    embedding_drift_report(ref_e, curr_e, dim=64, n_clusters=4)
    clean_corpus(docs)

    def construction_calls(fn):
        counter = {"n": 0}
        orig = cs.ClientServerConnection.send_command

        def patched(self, command):
            counter["n"] += 1
            return orig(self, command)

        cs.ClientServerConnection.send_command = patched
        try:
            fn()
        finally:
            cs.ClientServerConnection.send_command = orig
        return counter["n"]

    # measured construction costs (local[4], sf0.001): corpus ~3.8k,
    # embedding ~2.5k, clean ~0.9k — budgets give ~3x headroom
    budgets = {
        "corpus_drift_report": (
            lambda: corpus_drift_report(ref_d, curr_d), 12_000
        ),
        "embedding_drift_report": (
            lambda: embedding_drift_report(ref_e, curr_e, dim=64, n_clusters=4),
            8_000,
        ),
        "clean_corpus": (lambda: clean_corpus(docs), 3_000),
    }
    for name, (fn, budget) in budgets.items():
        n = construction_calls(fn)
        assert n < budget, (
            f"{name} made {n} py4j round-trips building its plan — a "
            "builder has regressed from SQL-string assembly to "
            "per-expression Column construction"
        )


def test_round10_session_operators_plan_contracts(spark, sf_dir):
    """Scale shapes of the mix/BPE/diff/funnel/transition operators:
    mix_sample broadcasts its O(groups) rate table and never shuffles
    the corpus; bpe_segment folds the vocabulary, not the occurrences;
    snapshot_diff is one exchange per side plus the final single-row
    aggregate; funnel and transition_drift hash only on the user key
    (bounded windows, no corpus-wide sort); t_closeness computes its
    corpus-scale cell aggregate exactly once (persisted + checkpointed,
    so the returned frame is already materialized O(n_buckets) rows)."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        t_closeness_profile,
    )
    from pyspark_data_drift_detector_spark.operators.corpus import bpe_segment
    from pyspark_data_drift_detector_spark.operators.sampling import mix_sample
    from pyspark_data_drift_detector_spark.operators.schema_drift import (
        snapshot_diff,
    )
    from pyspark_data_drift_detector_spark.operators.temporal import (
        funnel_conversion,
        transition_drift,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        count_shuffles,
        simple_plan,
        sorted_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    ms = mix_sample(
        docs, "lang", {"en": 0.4, "zh": 0.2, "de": 0.2, "fr": 0.1, "es": 0.1}
    )
    assert "BroadcastHashJoin" in simple_plan(ms)
    # the only exchanges aggregate the O(groups) counts table; the
    # corpus side is scan -> broadcast-join -> filter
    assert count_shuffles(ms) <= 3

    bs = bpe_segment(docs, [("e", "r"), ("o", "r")])
    # vocabulary distinct + the per-doc aggregate; folds are narrow
    assert count_shuffles(bs) <= 4
    assert count_scans(bs) <= 2

    sd = snapshot_diff(
        docs.filter("doc_id % 7 != 0"), docs.filter("doc_id % 5 != 0"),
        ["doc_id"],
    )
    # one hash exchange per side + the single-row wide aggregate
    assert count_shuffles(sd) <= 4
    assert count_scans(sd) == 2

    fc = funnel_conversion(ev, ["view", "click"])
    for arity, sort in sorted_windows(fc):
        raise AssertionError(f"funnel must not sort windows: {sort}")
    assert count_shuffles(fc) <= 8  # per-step user-key joins + counts

    td = transition_drift(
        ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    )
    # lag windows partition by user (bounded); no unpartitioned window
    for arity, sort in sorted_windows(td):
        assert arity >= 1, f"corpus-wide sorted window: {sort}"
    assert count_shuffles(td) <= 10

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    tc = t_closeness_profile(cust, ["c_nationkey"], "c_mktsegment", t=0.1)
    # already checkpointed: the returned frame re-reads O(n_buckets)
    # rows, never the corpus
    assert count_scans(tc) == 0 and count_shuffles(tc) == 0


def test_round10_session2_plan_contracts(spark, sf_dir):
    """Scale shapes of the path/keyword/increment operators: event_paths
    is one user-partitioned window pass + one path aggregate;
    group_keywords' checkpointed result never re-reads the corpus (its
    tf table is persisted exactly once); transition_incremental windows
    only on the user key and shuffles the tiny pair tables."""
    from pyspark_data_drift_detector_spark.operators.corpus import (
        group_keywords,
    )
    from pyspark_data_drift_detector_spark.operators.temporal import (
        event_paths,
        transition_incremental,
        transition_last_state,
        transition_pair_state,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        count_shuffles,
        sorted_windows,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ep = event_paths(ev, n=3, top_k=10)
    for arity, sort in sorted_windows(ep):
        assert arity >= 1, f"corpus-wide sorted window: {sort}"
    # user-key exchange + path aggregate + total + the top-k heap
    assert count_shuffles(ep) <= 6
    assert count_scans(ep) == 1

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gk = group_keywords(docs, "lang", k=3)
    assert count_scans(gk) == 0 and count_shuffles(gk) == 0  # checkpointed

    prior = ev.filter("ts < TIMESTAMP '2024-01-15'")
    batch = ev.filter("ts >= TIMESTAMP '2024-01-15'")
    ti = transition_incremental(
        batch, transition_pair_state(prior), transition_last_state(prior)
    )
    for arity, sort in sorted_windows(ti):
        assert arity >= 1, f"corpus-wide sorted window: {sort}"
    assert count_shuffles(ti) <= 14  # lag/first/last windows + panels


def test_round11_plan_contracts(spark, sf_dir):
    """Scale shapes of the r11 operators: semantic_dedup is one scan +
    ONE cluster_id shuffle (pairs only ever form inside a cluster);
    training_mix_report's checkpointed result never re-reads the corpus;
    the Arrow BPE apply mode's plan does NOT grow with the merge-table
    size (the whole point — the fold chain would)."""
    from pyspark_data_drift_detector_spark.corpus_pipeline import (
        training_mix_report,
    )
    from pyspark_data_drift_detector_spark.operators.corpus import bpe_segment
    from pyspark_data_drift_detector_spark.operators.similarity import (
        semantic_dedup,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        count_shuffles,
        simple_plan,
        sorted_windows,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    sd = semantic_dedup(emb, cents, threshold=0.4, scoring="expr")
    assert count_scans(sd) == 1
    assert count_shuffles(sd) <= 1, "semantic_dedup must shuffle once"
    assert not sorted_windows(sd)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmr = training_mix_report(docs, {"en": 0.5, "de": 0.5}, budget=128)
    assert count_scans(tmr) == 0 and count_shuffles(tmr) == 0

    # image_feature_drift: the decode stage is a narrow map — no
    # exchange may sit below the pandas decode, so payload bytes never
    # cross the wire; the only shuffle is the O(columns) profile agg
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        decode_images,
    )

    imgs = attach_synthetic_image(
        docs.select("doc_id"), width=8, height=4, fmt="ppm"
    )
    assert count_shuffles(decode_images(imgs, codec="auto")) == 0

    merges_small = [("a", chr(98 + i % 20)) for i in range(10)]
    merges_big = [(chr(97 + i % 26), chr(97 + (i // 26) % 26)) for i in range(1000)]
    p_small = simple_plan(bpe_segment(docs, merges_small, apply_mode="arrow"))
    p_big = simple_plan(bpe_segment(docs, merges_big, apply_mode="arrow"))
    assert len(p_big) < len(p_small) + 500, (
        "arrow BPE plan grew with the merge count — the merge list must "
        "ride in the closure, not the plan"
    )

    # mix_sample_epochs: the corpus side is broadcast-join + bounded
    # explode — its only shuffle is the tiny group-mass aggregate
    from pyspark_data_drift_detector_spark.operators.sampling import (
        mix_sample_epochs,
    )

    # <= 4 exchanges, all on the O(groups)/1-row panels (mass aggregate,
    # total, rate build); the corpus reaches the explode via a broadcast
    # join, never an exchange of its own rows
    mse = mix_sample_epochs(docs, "lang", {"en": 0.5, "de": 0.5})
    assert count_shuffles(mse) <= 4
    assert "BroadcastHashJoin" in simple_plan(mse) or \
        "BroadcastNestedLoopJoin" in simple_plan(mse)

    # rollup_consistency: ONE keyed child aggregate; the full-outer join
    # rides the same key partitioning; summary is a 1-row aggregate
    from pyspark_data_drift_detector_spark.operators.constraints import (
        check_rollup_consistency,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rc = check_rollup_consistency(
        orders, li, "o_orderkey", "l_orderkey", "o_totalprice", "sum(1)"
    )
    assert count_scans(rc) == 2
    assert not sorted_windows(rc)


def test_round11_wave3_plan_contracts(spark, sf_dir):
    """watermark_planner must not sort the corpus through one task: the
    only unpartitioned sorted window rides the O(buckets) offsets panel;
    the per-event running max is partitioned by bucket. doc_novelty is
    windowless; the embedding gate is one narrow map + one aggregate."""
    from pyspark_data_drift_detector_spark.operators.constraints import (
        check_embedding_constraints,
    )
    from pyspark_data_drift_detector_spark.operators.quality import (
        doc_novelty,
    )
    from pyspark_data_drift_detector_spark.operators.temporal import (
        watermark_planner,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        sorted_windows,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wp = watermark_planner(ev, [0, 60], order_col="event_id")
    sw = sorted_windows(wp)
    unpartitioned = [s for a, s in sw if a == 0]
    assert len(unpartitioned) <= 1, (
        "watermark_planner may sort only the O(buckets) offsets panel "
        f"unpartitioned, found: {unpartitioned}"
    )
    assert any(a >= 1 for a, _ in sw), "bucketed running max missing"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dn = doc_novelty(docs.filter("doc_id % 2 = 0"),
                     docs.filter("doc_id % 2 = 1"))
    assert not sorted_windows(dn)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ec = check_embedding_constraints(emb, dim=64, norm_min=0.5,
                                     norm_max=2.0)
    assert count_scans(ec) == 1 and not sorted_windows(ec)


def test_round11_wave4_plan_contracts(spark, sf_dir):
    """fuzzy_pairs: the block self-join is the only shuffle surface and
    the Levenshtein verify is a JVM built-in — no windows, no Python.
    cube_profile: all 2^d grouping sets in ONE aggregation (a single
    Expand feeding one shuffle), one scan. ewma_control: the corpus is
    reduced by groupBy(day) first; unpartitioned sorted windows ride
    only the O(days) panel."""
    from pyspark_data_drift_detector_spark.operators.dedup import fuzzy_pairs
    from pyspark_data_drift_detector_spark.operators.groups import cube_profile
    from pyspark_data_drift_detector_spark.operators.temporal import ewma_control
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        count_shuffles,
        formatted_plan,
        sorted_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = fuzzy_pairs(docs)
    assert not sorted_windows(fp), "fuzzy_pairs must not sort anything"
    plan = formatted_plan(fp)
    assert "levenshtein" in plan.lower(), "verify step must be the JVM builtin"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cp = cube_profile(li, ["l_returnflag", "l_linestatus"], "l_quantity")
    assert count_scans(cp) == 1
    assert count_shuffles(cp) <= 1, "CUBE must be one aggregation pass"
    assert "Expand" in formatted_plan(cp), "grouping-set Expand missing"
    assert not sorted_windows(cp)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ew = ewma_control(ev)
    # baselines + chart are one linear window chain over the O(days)
    # panel: exactly ONE corpus scan, no cache needed
    assert count_scans(ew) == 1
    unpartitioned = [s for a, s in sorted_windows(ew) if a == 0]
    # row_number + running weighted sum over the O(days) daily panel
    # (the baseline window is unsorted and doesn't count)
    assert len(unpartitioned) <= 2
    # the per-series variant partitions every window on the series keys
    grouped = ewma_control(ev, by=["event_type"])
    assert count_scans(grouped) == 1
    assert not [s for a, s in sorted_windows(grouped) if a == 0], (
        "grouped charts must never sort through one task"
    )
    p = formatted_plan(ew)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_round11_wave5_plan_contracts(spark, sf_dir):
    """chi2_cell_residuals / seasonality_drift: corpus reduces to
    O(categories)/O(31)-bucket panels through grouped aggregates with
    map-side partials; per-key totals ride broadcasts, never
    unpartitioned windows. dedup_savings: groupBy(content_key)+join —
    no Window.partitionBy(key), no Python in any of the three plans."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import (
        chi2_cell_residuals,
    )
    from pyspark_data_drift_detector_spark.operators.dedup import dedup_savings
    from pyspark_data_drift_detector_spark.operators.temporal import (
        seasonality_drift,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        formatted_plan,
        sorted_windows,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cc = chi2_cell_residuals(
        li.filter("l_orderkey % 2 = 0"),
        li.filter("l_orderkey % 2 = 1"),
        ["l_returnflag", "l_linestatus"],
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sd = seasonality_drift(
        ev.filter("user_id % 2 = 0"), ev.filter("user_id % 2 = 1")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ds = dedup_savings(docs)
    for name, df in [("chi2_cells", cc), ("seasonality", sd), ("savings", ds)]:
        assert not sorted_windows(df), f"{name} must be window-free"
        p = formatted_plan(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_events_report_plan_contract(spark, sf_dir):
    """events_drift_report: every family reduces to a broadcast-sized
    panel via grouped aggregates — no sorted windows anywhere, no
    Python eval, and the whole report stays within a bounded number of
    source scans (volume 2 via the tagged union, mix 2, seasonality 2)."""
    from pyspark_data_drift_detector_spark.events_pipeline import (
        events_drift_report,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        formatted_plan,
        sorted_windows,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rep = events_drift_report(
        ev.filter("user_id % 2 = 0"), ev.filter("user_id % 2 = 1")
    )
    assert not sorted_windows(rep)
    p = formatted_plan(rep)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the O(types)/O(31) panels are persisted; their multi-consumer
    # replays ride InMemoryTableScan, so the corpus materializes at most
    # twice per family (6 total) even though the plan TEXT prints each
    # cached builder's file scan per consumer (hence the loose raw cap)
    from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

    sp = simple_plan(rep)
    assert sp.count("InMemoryTableScan") >= 5, "panel caches missing"
    assert count_scans(rep) <= 14


def test_round11_wave6_plan_contracts(spark, sf_dir):
    """touch_attribution: ONE user-partitioned window pass (never an
    events self-join), O(models×types) output. transition_stationary:
    the returned frame is panel-sized — the corpus lag window runs
    before the documented O(types²) collect, so the output plan carries
    no windows at all."""
    from pyspark_data_drift_detector_spark.operators.temporal import (
        touch_attribution,
        transition_stationary,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        formatted_plan,
        sorted_windows,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ta = touch_attribution(ev, "purchase")
    sw = sorted_windows(ta)
    assert sw and all(a >= 1 for a, _ in sw), (
        "touch windows must stay user-partitioned"
    )
    p = formatted_plan(ta)
    assert "BroadcastHashJoin" in p, "totals panel must broadcast"
    assert "SortMergeJoin" not in p, "no corpus-sized join in attribution"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    ts = transition_stationary(ev, n_iter=2)
    assert not sorted_windows(ts), "stationary output must be panel-only"


def test_round12_plan_contracts(spark, sf_dir):
    """alignment_drift: the per-pair cosine is ONE narrow zip map per
    side — embeddings are consumed in place and never cross an
    exchange; the only shuffles carry the O(columns) side-tagged
    profile partials. No join, no sorted window, no Python."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        alignment_drift,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        count_shuffles,
        formatted_plan,
        sorted_windows,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ref = emb.filter("vec_id % 2 = 0").select(
        F.col("embedding").alias("text_embedding"),
        F.reverse("embedding").alias("image_embedding"),
    )
    curr = emb.filter("vec_id % 2 = 1").select(
        F.col("embedding").alias("text_embedding"),
        F.reverse("embedding").alias("image_embedding"),
    )
    ad = alignment_drift(ref, curr)
    # the standard numeric_profile_pair shape: each side is scanned by
    # the moments hash-agg AND the percentile object-agg (2 sides x 2)
    assert count_scans(ad) == 4
    # side-tagged union profile: partial agg before every exchange, so
    # only O(1) scalar/percentile partials shuffle — never the
    # embedding arrays (the cosine map is fused into the scan project)
    assert count_shuffles(ad) <= 3
    assert not sorted_windows(ad)
    p = formatted_plan(ad)
    assert "SortMergeJoin" not in p, "profile pair must not join"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "zip_with" in p or "aggregate" in p.lower()


def test_round12_incremental_plan_contracts(spark, sf_dir):
    """ivf_state / ann_index_incremental: the batch assignment is one
    narrow inlined-matrix map + one O(lists) aggregate; the state join
    is a full-outer of two O(lists) panels (no corpus-sized join); the
    totals windows ride the bounded panel. alignment_state: one narrow
    zip map + ONE 1-row aggregate, embeddings never shuffled."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        alignment_state,
    )
    from pyspark_data_drift_detector_spark.operators.similarity import (
        ann_index_incremental,
        ivf_state,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_scans,
        count_shuffles,
        formatted_plan,
        sorted_windows,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    st = ivf_state(emb.filter("vec_id % 3 != 0"), cents, scoring="expr")
    assert count_scans(st) == 1
    assert count_shuffles(st) <= 1, "ivf_state is one grouped aggregate"
    assert not sorted_windows(st)
    p = formatted_plan(st)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    inc = ann_index_incremental(
        emb.filter("vec_id % 3 = 0"), st, cents, scoring="expr"
    )
    # BOTH join inputs are grouped aggregates — O(lists) rows — so the
    # full-outer join (SMJ: Spark cannot broadcast full-outer) and the
    # bounded-frame totals windows ride tiny panels; the contract is
    # that each corpus side ENDS at its grouped aggregate. The state
    # rollup is persisted (r15: the emptiness guard and the join share
    # one computation), so the plan text shows its InMemoryTableScan
    # plus the cached subtree's ECHOED file scan — physically the batch
    # side is the only live corpus scan.
    assert "InMemoryTableScan" in formatted_plan(inc)
    assert 2 <= count_scans(inc) <= 3
    assert count_shuffles(inc) <= 8
    for _, sort in sorted_windows(inc):
        assert "list_id" in sort or not sort, (
            f"unexpected sorted window over non-panel rows: {sort}"
        )

    al = alignment_state(
        emb.selectExpr(
            "embedding AS text_embedding", "reverse(embedding) AS image_embedding"
        )
    )
    assert count_scans(al) == 1 and count_shuffles(al) <= 1
    assert not sorted_windows(al)


def test_image_neardup_plan_contract(spark, sf_dir):
    """image_ahash is a pure narrow map (payload bytes consumed in the
    scan partitions — zero shuffles below the Arrow stage); the pair
    join shuffles only (band, key, 8-byte signature) rows."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_image,
        image_ahash,
        image_neardup_pairs,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        sorted_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    imgs = attach_synthetic_image(docs.select("doc_id"), width=8, height=4)
    assert count_shuffles(image_ahash(imgs)) == 0
    pairs = image_neardup_pairs(imgs, max_distance=3, bands=4)
    # band self-join + the distinct collapse; nothing else may shuffle
    assert count_shuffles(pairs) <= 3
    assert not sorted_windows(pairs)
    p = formatted_plan(pairs)
    # the payload column must not appear in any exchange's output
    for seg in p.split("Exchange")[1:]:
        head = seg[:400]
        assert "payload" not in head, "payload bytes crossed an exchange"


def test_video_neardup_plan_contract(spark, sf_dir):
    """video_ahash is a pure narrow map (frames consumed in the scan
    partitions — zero shuffles below the Arrow stage); the pair join
    shuffles only (band, key, 8-byte signature) rows."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_video,
        video_ahash,
        video_neardup_pairs,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        sorted_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vids = attach_synthetic_video(
        docs.select("doc_id"), width=8, height=4, n_frames=5, cut_every=2
    )
    assert count_shuffles(video_ahash(vids)) == 0
    pairs = video_neardup_pairs(vids, max_distance=3, bands=4)
    # band self-join + the distinct collapse; nothing else may shuffle
    assert count_shuffles(pairs) <= 3
    assert not sorted_windows(pairs)
    for seg in formatted_plan(pairs).split("Exchange")[1:]:
        assert "payload" not in seg[:400], "payload bytes crossed an exchange"


def test_multimodal_codec_plan_contracts(spark, sf_dir):
    """Every real-codec decode (audio WAV, video y4m, image aHash) is a
    pure narrow map — zero shuffles, payload bytes consumed in the scan
    partitions; the intake flagship adds only 1-row aggregates and an
    O(metrics) union (payloads never cross an exchange)."""
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        attach_synthetic_audio,
        attach_synthetic_image,
        attach_synthetic_video,
        audio_ahash,
        decode_audio,
        decode_video,
        multimodal_intake_report,
    )
    from pyspark_data_drift_detector_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        sorted_windows,
    )

    ids = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    wavs = attach_synthetic_audio(ids, n_samples=64)
    assert count_shuffles(decode_audio(wavs)) == 0
    assert count_shuffles(audio_ahash(wavs)) == 0
    vids = attach_synthetic_video(ids, width=8, height=4, n_frames=3)
    assert count_shuffles(decode_video(vids)) == 0

    rep = multimodal_intake_report(
        attach_synthetic_image(ids, width=8, height=4), wavs, vids
    )
    # one partial->final exchange per modality's 1-row aggregate
    assert count_shuffles(rep) <= 3
    assert not sorted_windows(rep)
    for seg in formatted_plan(rep).split("Exchange")[1:]:
        assert "payload" not in seg[:400], "payload bytes crossed an exchange"

    # with fingerprint states, the dup panels add capped banded joins of
    # 8-byte signatures — payload bytes still never cross an exchange
    from pyspark_data_drift_detector_spark.operators.multimodal import (
        audio_ahash_state,
        image_ahash_state,
        video_ahash_state,
    )

    imgs = attach_synthetic_image(ids, width=8, height=4)
    rep2 = multimodal_intake_report(
        imgs, wavs, vids,
        image_state=image_ahash_state(imgs.filter("doc_id < 50")),
        audio_state=audio_ahash_state(wavs.filter("doc_id < 50")),
        video_state=video_ahash_state(vids.filter("doc_id < 50")),
    )
    assert not sorted_windows(rep2)
    for seg in formatted_plan(rep2).split("Exchange")[1:]:
        assert "payload" not in seg[:400], "payload bytes crossed an exchange"
