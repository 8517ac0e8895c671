"""A drift run owns what it creates: every job it runs carries the
caller's job group, and it leaves nothing cached behind
(``functions.lifetime``)."""

from __future__ import annotations

import contextlib
import datetime
import json
import pathlib
import re
import threading
import time

import pytest
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.functions.lifetime import collect_local
from pyspark_data_drift_detector_spark.operators import frequency
from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift
from pyspark_data_drift_detector_spark.operators.dedup import (
    dedup_survivors,
    minhash_lsh_pairs,
    neardup_clusters,
)
from pyspark_data_drift_detector_spark.operators.groups import group_drift
from pyspark_data_drift_detector_spark.pipeline import detect_drift
from pyspark_data_drift_detector_spark.sources.snapshot import write_results

PKG = pathlib.Path(__file__).resolve().parents[1] / "pyspark_data_drift_detector_spark"


@pytest.fixture(scope="module")
def pair(spark):
    def side(shift, modes):
        rows = [
            (float(i % 17) + shift, float((i * 7) % 31), modes[i % len(modes)], ["R", "A"][i % 2])
            for i in range(400)
        ]
        return spark.createDataFrame(rows, "qty double, price double, mode string, flag string")

    return side(0.0, ["AIR", "RAIL", "TRUCK"]), side(3.0, ["AIR", "AIR", "SHIP"])


def _cached_rdds(spark) -> set[int]:
    return {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.numCachedPartitions()
    }


@contextlib.contextmanager
def _time_zone(spark, tz):
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


@contextlib.contextmanager
def _job_properties(spark, log_dir):
    """Yield a list that, on exit, holds the local properties every job
    started inside was submitted with (read back from an event log)."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    conf = sc.conf().clone().set("spark.eventLog.compress", "false").set("spark.eventLog.rolling.enabled", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        "jobs", jvm.scala.Option.apply(None), jvm.java.net.URI(log_dir.as_uri()), conf, sc.hadoopConfiguration()
    )
    listener.start()
    sc.addSparkListener(listener)
    props: list[dict] = []
    try:
        yield props
    finally:
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(listener)
        listener.stop()
    events = map(json.loads, (log_dir / "jobs").read_text().splitlines())
    props += [e.get("Properties") or {} for e in events if e["Event"] == "SparkListenerJobStart"]


def test_jobs_run_in_the_callers_group_and_nothing_stays_cached(spark, pair, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ref, curr = pair
    cached = _cached_rdds(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("drift-run-ownership", "caller's group")
    try:
        with _time_zone(spark, "America/Los_Angeles"), _job_properties(spark, tmp_path) as jobs:
            rows = detect_drift(ref, curr, {"profile": "standard"}).collect()
            groups = group_drift(ref, curr, ["mode", "flag"], ["qty", "price"], ["mode"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # every job carries the caller's group and the session's confs
    carried = {(j.get("spark.jobGroup.id"), j.get("spark.sql.session.timeZone")) for j in jobs}
    assert jobs and carried == {("drift-run-ownership", "America/Los_Angeles")}
    types = {r["column_type"] for r in rows}
    assert {"numerical", "categorical", "distribution", "group"} <= types
    assert groups
    assert tracker.getJobIdsForGroup("drift-run-ownership")
    # a difference, not an equality: the status store evicts old jobs
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not _cached_rdds(spark) - cached


@pytest.mark.parametrize("salted", [False, True], ids=["window", "salted"])
def test_standalone_drift_calls_leave_nothing_persisted(spark, pair, monkeypatch, salted):
    """Called outside any run, ``categorical_drift`` and ``group_drift``
    leave no persisted RDD, in either shape of the top-k builder."""
    if salted:
        monkeypatch.setattr(frequency, "SALT_SIZE_THRESHOLD_BYTES", -1)
    ref, curr = pair
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    assert categorical_drift(ref, curr, ["mode", "flag"]).collect()
    assert persistent().size() == before
    assert group_drift(ref, curr, ["mode", "flag"], ["qty"], ["mode"]).collect()
    assert persistent().size() == before


def test_cancelling_the_callers_group_stops_a_drift_run(spark, pair):
    """Cancelling the caller's job group while ``detect_drift`` runs makes
    the call raise promptly, and its run still releases what it kept."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    persistent = sc._jsc.getPersistentRDDs
    before = persistent().size()
    ref, curr = pair
    raised: list[BaseException] = []

    def call():
        sc.setJobGroup("drift-cancel", "cancelled by the caller")
        try:
            detect_drift(ref, curr, {"profile": "standard"}).collect()
        except Exception as e:  # noqa: BLE001 - the cancellation is the expected outcome
            raised.append(e)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    caller = threading.Thread(target=call)
    caller.start()
    deadline = time.monotonic() + 120
    while not tracker.getJobIdsForGroup("drift-cancel") and caller.is_alive():
        assert time.monotonic() < deadline, "no job of the caller's group started"
        time.sleep(0.05)
    sc.cancelJobGroup("drift-cancel")
    caller.join(timeout=30)
    assert not caller.is_alive(), "the cancelled call did not return within 30 s"
    assert raised and "cancel" in str(raised[0]).lower(), raised
    assert persistent().size() == before


def test_a_builders_query_keeps_its_session_confs_when_another_ends(spark, tmp_path):
    """Builders run queries on their item's thread. ``quick``'s query
    starts first and ends while ``slow``'s runs; ``slow``'s later jobs must
    still carry the session's confs."""

    def sleeping(ms):
        return F.expr(f"reflect('java.lang.Thread', 'sleep', CAST({ms} AS BIGINT))")

    def quick():
        spark.range(1, numPartitions=1).select(sleeping(1000)).collect()
        return spark.range(1)

    def slow():
        time.sleep(0.3)
        rows = spark.range(4, numPartitions=4).select((F.col("id") % 2).alias("k"), sleeping(2000).alias("s"))
        rows.groupBy("k").agg(F.max("s")).collect()
        return spark.range(1)

    with _time_zone(spark, "America/Los_Angeles"), _job_properties(spark, tmp_path) as jobs:
        collect_local([quick, slow])
    assert len(jobs) >= 3
    assert [j.get("spark.sql.session.timeZone") for j in jobs] == ["America/Los_Angeles"] * len(jobs)


def test_run_timestamp_is_the_call_time_under_a_session_time_zone(spark, pair):
    ref, curr = pair
    with _time_zone(spark, "America/Los_Angeles"):
        start = datetime.datetime.now() - datetime.timedelta(seconds=1)
        rows = detect_drift(ref, curr, {"profile": "summary"}).collect()
        end = datetime.datetime.now() + datetime.timedelta(seconds=1)
    assert rows and all(start <= r["run_timestamp"] <= end for r in rows)


def test_thread_pools_live_only_in_the_lifetime_module():
    owners = {
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "ThreadPoolExecutor(" in p.read_text()
    }
    assert owners == {"functions/lifetime.py"}


def test_a_dedup_ingest_runs_in_the_callers_group_and_caches_nothing(spark, tmp_path):
    """The near-dup ingest (LSH pairs, clusters, survivors, results sink)
    runs every job in the caller's group and leaves no persisted RDD."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    words = [f"w{i}" for i in range(400)]
    rows = []
    for family in range(20):
        base = words[family * 20:family * 20 + 20]
        rows += [(family * 10 + copy, " ".join(base[:copy] + base[copy + 1:])) for copy in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    persistent = len(sc._jsc.getPersistentRDDs())
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("dedup-run-ownership", "caller's group")
    try:
        clusters = neardup_clusters(minhash_lsh_pairs(docs, threshold=0.5))
        write_results(dedup_survivors(docs, clusters), str(tmp_path / "survivors"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("dedup-run-ownership")
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert len(sc._jsc.getPersistentRDDs()) == persistent
    kept = sorted(r["doc_id"] for r in spark.read.parquet(str(tmp_path / "survivors")).collect())
    assert kept == [family * 10 for family in range(20)]


#: The calls that cache a frame, and the files allowed to make them
#: outside ``functions/lifetime.py`` with their current count. A change
#: may lower a count or drop a file, never raise or add one.
CACHING_CALL = re.compile(r"\.persist\(|\.localCheckpoint\(|\.checkpoint\(|\.cache\(\)|\b_reuse\(")
CACHING_ALLOWLIST = {
    "corpus_pipeline.py": 3,
    "events_pipeline.py": 1,
    "operators/constraints.py": 4,
    "operators/corpus.py": 8,
    "operators/correlation.py": 2,
    "operators/dedup.py": 15,
    "operators/graph.py": 13,
    "operators/multimodal.py": 2,
    "operators/parallelism.py": 2,
    "operators/quality.py": 3,
    "operators/similarity.py": 4,
    "operators/temporal.py": 7,
    "operators/text.py": 1,
    "sources/snapshot.py": 1,
    "streaming/state_tables.py": 4,
}


def test_caching_calls_live_in_the_lifetime_module_or_the_allowlist():
    counts = {
        name: n
        for p in PKG.rglob("*.py")
        if (name := str(p.relative_to(PKG))) != "functions/lifetime.py"
        and (n := len(CACHING_CALL.findall(p.read_text())))
    }
    # equal, not at most: a file that loses calls lowers its entry here
    assert counts == CACHING_ALLOWLIST
