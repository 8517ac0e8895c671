"""The benchmark's workloads. Each one generates its inputs from the seed,
then runs checked operations in a closed loop. An operation has an ingest phase and one or more queries;
only those phases are timed, and every operation starts from clean
storage (nothing an earlier operation persisted can serve it)."""

from __future__ import annotations

import gc
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

from perfbench import checks, data
from perfbench.trace import Span, Tracer


@dataclass
class Op:
    """One operation's timings, on-disk footprint and check outcome."""

    run_s: float = 0.0
    ingest_s: float = 0.0
    query_s: list[float] = field(default_factory=list)
    bytes: int = 0
    rows: int = 0
    attempted: int = 1
    failed: int = 0
    leaked_blocks: int = 0
    leaked_mb: float = 0.0
    span: Span | None = None
    extra: dict = field(default_factory=dict)


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``, checksums excluded."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def cached_storage(spark, exclude: set[int]) -> tuple[int, float]:
    """(cached blocks, cached MB) currently held by the block manager,
    leaving out the RDDs whose ids are in ``exclude``."""
    blocks, size = 0, 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() in exclude:
            continue
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 1e6


def clean_storage(spark) -> None:
    """Drop everything cached, so the next operation starts from nothing."""
    gc.collect()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _report(name: str, k: int, problems: list[str]) -> None:
    for p in problems:
        print(f"check failed ({name} operation {k}): {p}", flush=True)


class Workload:
    """Subclasses implement ``generate(root)`` (build the inputs under
    root) and ``op(k)`` (operation k, timed and checked)."""

    name = ""
    #: checked outputs per operation
    attempts_per_op = 1

    def __init__(self, spark, spec: dict, seed: int, work: str, tracer: Tracer, tiny: bool):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.tiny = tiny

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, root: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time set-up on the generated inputs."""

    def op(self, k: int) -> Op:
        raise NotImplementedError

    def has_next(self, k: int) -> bool:
        return True

    def finish(self, ops: list[Op]) -> dict:
        """Workload-level values measured at the end of the run."""
        return {}

    def run_op(self, k: int) -> Op:
        """Operation k with its checks and storage cleanup; an exception
        fails every output of the operation. What the operation leaves
        cached is counted without the tracer's own checkpoints."""
        try:
            op = self.op(k)
        except Exception:
            traceback.print_exc()
            op = Op(attempted=self.attempts_per_op, failed=self.attempts_per_op)
        op.leaked_blocks, op.leaked_mb = cached_storage(self.spark, self.tracer.own_rdds)
        clean_storage(self.spark)
        return op


class TallLineitem(Workload):
    name = "tall_lineitem"

    def generate(self, root: str) -> None:
        self.rows = self.spec["tiny_rows"] if self.tiny else self.spec["rows"]
        self.base = os.path.join(root, "base")
        data.lineitem(self.spark, self.rows, self.seed).write.parquet(self.base)

    def prepare(self) -> None:
        # land one unmeasured split: the snapshot writes every operation runs
        from pyspark_data_drift_detector_spark.sources.snapshot import write_versioned_snapshot

        root = self.path("prepare")
        for version, side in enumerate(data.split_pair(self.spark.read.parquet(self.base), self.seed, -1)):
            write_versioned_snapshot(side, root, version)
        shutil.rmtree(root, ignore_errors=True)

    def _operation(self, root: str, k: int):
        from pyspark_data_drift_detector_spark.runner import run_data_drift_detection
        from pyspark_data_drift_detector_spark.sources.snapshot import write_versioned_snapshot

        table, sink = os.path.join(root, "table"), os.path.join(root, "results")
        ref, curr = data.split_pair(self.spark.read.parquet(self.base), self.seed, k)
        cfg = {
            **self.spec["config"],
            "table_path": table,
            "reference_version": 0,
            "current_version": 1,
            "output_path": sink,
        }
        t0 = time.perf_counter()
        write_versioned_snapshot(ref, table, 0)
        write_versioned_snapshot(curr, table, 1)
        t1 = time.perf_counter()
        report = run_data_drift_detection(self.spark, cfg)
        t2 = time.perf_counter()
        return report, t1 - t0, t2 - t1, table, sink

    def op(self, k: int) -> Op:
        from pyspark_data_drift_detector_spark.pipeline import RESULT_COLUMNS

        root = self.path(f"op-{k}")
        with self.tracer.span("op") as span:
            report, ingest_s, query_s, table, sink = self._operation(root, k)
        op = Op(run_s=ingest_s + query_s, ingest_s=ingest_s, query_s=[query_s], span=span, rows=self.rows)
        problems = checks.check_drift_results(
            self.spark.read.parquet(sink).columns, report["results"], RESULT_COLUMNS,
            data.PLANTED_NUMERIC + data.PLANTED_CATEGORICAL, data.CONTROL_NUMERIC,
        )
        op.failed = 1 if problems else 0
        _report(self.name, k, problems)
        if self.tracer.enabled:
            # rows of the cells tables the categorical layer aggregated
            op.extra["categorical.cells"] = sum(df.count() for df in self.tracer.recorded(span, "cells"))
            pairs = self.tracer.outputs(span, "correlation")
            op.extra["correlation.pairs"] = pairs[0].count() if pairs else 0
        (tb, tf), (sb, sf) = disk_usage(table), disk_usage(sink)
        op.bytes = tb + sb
        op.extra.update(bytes_written=op.bytes, files_written=tf + sf)
        shutil.rmtree(root, ignore_errors=True)
        return op


class IncrementalWindows(Workload):
    """Daily batches land one at a time. Each batch cycle lands the day
    (ingest): it near-dup cleans the day's documents and appends the day's
    lineitem rows to on-disk mergeable state tables. Then it compares
    partition windows from the state alone (queries)."""

    name = "incremental_windows"

    NUMERIC = list(data.NUMERIC)
    CATEGORICAL = data.CATEGORICAL

    @property
    def attempts_per_op(self) -> int:
        # dedup, state append, and each window query
        return 2 + self.spec["queries_per_cycle"]

    def generate(self, root: str) -> None:
        s = self.spec
        rows = s["tiny_rows_per_batch"] if self.tiny else s["rows_per_batch"]
        self.originals = (s["tiny_originals_per_batch"] if self.tiny else s["originals_per_batch"]) * s["days"]
        self.pool = os.path.join(root, "pool")
        self.docs = os.path.join(root, "docs")
        self.state = os.path.join(root, "state")
        self.sink = os.path.join(root, "survivors")
        data.daily_batches(self.spark, rows * s["days"], s["days"], self.seed, s["null_fraction"]) \
            .write.partitionBy("l_day").parquet(self.pool)
        data.corpus(self.spark, self.originals, s["copies_per_original"], s["words_per_document"],
                    s["vocabulary"], s["dropped_words"], self.seed) \
            .selectExpr("*", f"format_string('day-%04d', CAST(pmod(xxhash64(family, {self.seed}, 9), "
                             f"{s['days']}) AS INT)) AS l_day") \
            .write.partitionBy("l_day").parquet(self.docs)

    def prepare(self) -> None:
        self.batch_rows = {
            r[0]: r[1] for r in self.spark.read.parquet(self.pool).groupBy("l_day").count().collect()
        }
        # the initial days in one append, and one window query: the plans
        # every later cycle runs
        initial = list(range(self.spec["initial_batches"]))
        self._ingest(initial)
        self.ingested_rows = sum(self.batch_rows.get(self.day(b), 0) for b in initial)
        self._query(*self.windows(initial[-1])[0])

    @staticmethod
    def day(b: int) -> str:
        return f"day-{b:04d}"

    def _tables(self) -> dict[str, str]:
        return {t: os.path.join(self.state, t) for t in ("profile", "categories", "quantiles")}

    def _ingest(self, batches: list[int]) -> None:
        from pyspark.sql import functions as F

        from pyspark_data_drift_detector_spark.operators import mergeable

        batch = self.spark.read.parquet(self.pool).where(F.col("l_day").isin([self.day(b) for b in batches]))
        states = {
            "profile": mergeable.partitioned_profile(batch, self.NUMERIC, "l_day"),
            "categories": mergeable.partitioned_categories(batch, self.CATEGORICAL, "l_day"),
            "quantiles": mergeable.partitioned_quantiles(batch, self.NUMERIC, "l_day"),
        }
        paths = self._tables()
        with self.tracer.span("sources"):
            for t, df in states.items():
                df.write.mode("append").parquet(paths[t])

    def windows(self, b: int) -> list[tuple[list[str], list[str]]]:
        """The ``queries_per_cycle`` (ref, curr) partition windows compared
        after batch b lands, in a seeded rotation over every pair of a
        current window of days ending at b and an earlier reference window
        of consecutive days."""
        d = self.day
        pairs = [
            ([d(i) for i in range(r0, r1 + 1)], [d(i) for i in range(start, b + 1)])
            for start in range(1, b + 1)
            for r0 in range(start)
            for r1 in range(r0, start)
        ]
        random.Random(self.seed * 1009 + b).shuffle(pairs)
        return [pairs[i % len(pairs)] for i in range(self.spec["queries_per_cycle"])]

    def _query(self, ref: list[str], curr: list[str]) -> list[dict]:
        from pyspark_data_drift_detector_spark.pipeline import detect_drift_incremental

        read, paths = self.spark.read.parquet, self._tables()
        return [
            r.asDict()
            for r in detect_drift_incremental(
                read(paths["profile"]), read(paths["categories"]), ref, curr,
                quantile_state=read(paths["quantiles"]),
            ).collect()
        ]

    def _dedup(self, b: int):
        from pyspark_data_drift_detector_spark.operators import dedup
        from pyspark_data_drift_detector_spark.sources.snapshot import write_results

        docs = self.spark.read.parquet(self.docs).where(f"l_day = '{self.day(b)}'").select("doc_id", "text")
        pairs = dedup.minhash_lsh_pairs(docs, threshold=self.spec["lsh_threshold"])
        clusters = dedup.neardup_clusters(pairs)
        sink = os.path.join(self.sink, self.day(b))
        write_results(dedup.dedup_survivors(docs, clusters), sink)
        return docs, clusters, sink

    def has_next(self, k: int) -> bool:
        return self.spec["initial_batches"] + k < self.spec["days"]

    def op(self, k: int) -> Op:
        b = self.spec["initial_batches"] + k
        op = Op(attempted=self.attempts_per_op)
        results = []
        before = disk_usage(self.state)
        with self.tracer.span("op") as span:
            t0 = time.perf_counter()
            docs, clusters, sink = self._dedup(b)
            with self.tracer.span("mergeable.ingest"):
                self._ingest([b])
            op.ingest_s = time.perf_counter() - t0
            for ref, curr in self.windows(b):
                t2 = time.perf_counter()
                with self.tracer.span("mergeable.query"):
                    results.append(self._query(ref, curr))
                op.query_s.append(time.perf_counter() - t2)
            op.run_s = time.perf_counter() - t0
        op.span = span
        self.ingested_rows += self.batch_rows.get(self.day(b), 0)
        after = disk_usage(self.state)
        op.extra.update(
            bytes_written=after[0] - before[0] + disk_usage(sink)[0],
            files_written=after[1] - before[1] + disk_usage(sink)[1],
            result_rows=[len(r) for r in results],
        )

        copies = self.spec["copies_per_original"]
        doc_ids = [r[0] for r in docs.select("doc_id").collect()]
        dedup_problems = checks.check_dedup(
            doc_ids,
            {r[0]: r[1] for r in clusters.collect()},
            [r[0] for r in self.spark.read.parquet(sink).select("doc_id").collect()],
            self.originals,
            copies,
        )
        expected = set(self.NUMERIC) | set(self.CATEGORICAL)
        window_problems = [checks.check_window_result(rows, expected) for rows in results]
        profile_problems = checks.check_merged_profile(*self._profiles([self.day(i) for i in range(b + 1)]))
        op.failed = sum(1 for p in [dedup_problems, profile_problems, *window_problems] if p)
        _report(self.name, k, dedup_problems + profile_problems + [p for w in window_problems for p in w])
        if self.tracer.enabled:
            op.extra.update(self._pair_counts(span, docs))
        return op

    def _pair_counts(self, span: Span, docs) -> dict:
        """LSH candidate pairs, and verified pairs inside one planted family."""
        from pyspark_data_drift_detector_spark.operators import dedup

        copies = self.spec["copies_per_original"]
        candidates = dedup.minhash_lsh_pairs(docs, threshold=self.spec["lsh_threshold"], verify=False).count()
        true_pairs = sum(
            1
            for pairs in self.tracer.outputs(span, "dedup.lsh")
            for r in pairs.select("id1", "id2").collect()
            if checks.family_of(r[0], self.originals, copies) == checks.family_of(r[1], self.originals, copies)
        )
        return {"candidate_pairs": candidates, "true_pairs": true_pairs}

    def _profiles(self, days: list[str]) -> tuple[dict, dict]:
        """A merged window profile and a direct aggregate of the same raw rows."""
        from pyspark.sql import functions as F

        from pyspark_data_drift_detector_spark.operators.mergeable import merge_profiles

        state = self.spark.read.parquet(self._tables()["profile"])
        merged = {
            r["column_name"]: r.asDict()
            for r in merge_profiles(state.where(F.col("partition_id").isin(days))).collect()
        }
        raw = self.spark.read.parquet(self.pool).where(F.col("l_day").isin(days))
        aggs = []
        for c in self.NUMERIC:
            aggs += [
                f"count(1) AS `{c}|n_rows`",
                f"sum(CAST(`{c}` IS NULL AS BIGINT)) AS `{c}|null_count`",
                f"min(CAST(`{c}` AS DOUBLE)) AS `{c}|min`",
                f"max(CAST(`{c}` AS DOUBLE)) AS `{c}|max`",
                f"avg(CAST(`{c}` AS DOUBLE)) AS `{c}|mean`",
            ]
        direct: dict[str, dict] = {}
        for key, value in raw.selectExpr(*aggs).first().asDict().items():
            col, f = key.split("|")
            direct.setdefault(col, {})[f] = value
        return merged, direct

    def finish(self, ops: list[Op]) -> dict:
        size, files = disk_usage(self.state)
        return {"state_bytes": size, "state_files": files, "rows": self.ingested_rows}


WORKLOADS = {w.name: w for w in (TallLineitem, IncrementalWindows)}
