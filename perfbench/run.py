"""Drift-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the repository root. Starts a local Spark session sized to this
machine, generates the workload's inputs from the seed, then runs checked
operations in a closed loop for ``--seconds`` (at least one operation). The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` (operations that raised or failed their output check) and
``metrics`` — every end-to-end metric of ``BENCHMARK.json`` with
``--trace 0``, every per-layer metric with ``--trace 1``. ``--tiny`` runs
the operations on the workload's tiny inputs (the benchmark's own tests
use it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input generations per run; setup_s takes their median
SETUP_REPEATS = 3


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def p90(values) -> float:
    values = sorted(values)
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return float(statistics.quantiles(values, n=10, method="inclusive")[8])


# -- processes -------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the driver: this Python
    process and its direct children (the JVM). Python workers, which Spark
    starts and stops on demand, are not counted."""
    total = 0
    for pid in [os.getpid(), *_children().get(os.getpid(), [])]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


# -- session -----------------------------------------------------------------------


def start_session(session: dict, work: str, traced: bool):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark and Python temp files stay inside the work directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", session["driver_memory"])
        .config("spark.driver.extraJavaOptions", f"{session['java_options']} -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    for key, value in session["conf"].items():
        builder = builder.config(key, value)
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    below = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in below:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


# -- metrics ------------------------------------------------------------------------


def end_to_end(ops, setup_s: float, finish: dict, rss_mb: float) -> dict:
    queries = [q for op in ops for q in op.query_s]
    if "state_bytes" in finish:
        per_row = finish["state_bytes"] / max(1, finish["rows"])
    else:
        per_row = median(op.bytes / op.rows for op in ops if op.rows)
    return {
        "setup_s": setup_s,
        "run_s.p50": median(op.run_s for op in ops),
        "ingest_s.p50": median(op.ingest_s for op in ops),
        "query_s.p50": median(queries),
        "query_s.p90": p90(queries),
        "state_bytes_per_row": per_row,
        "peak_rss_mb": rss_mb,
    }


def per_layer(tracer, work, ops, finish: dict) -> dict:
    from perfbench.trace import FAMILIES, OpView, busy_seconds

    traced = [op for op in ops if op.span is not None]
    views = [OpView(tracer, work, op.span) for op in traced]

    def per_op(fn):
        return median(fn(v) for v in views)

    def extra(key):
        return median(op.extra.get(key, 0) for op in traced)

    m = {"trace.run_s.p50": median(op.run_s for op in ops)}
    for layer in ("inference", "profile", "categorical", "correlation", "groups", "pipeline", "report"):
        m[f"{layer}.s"] = per_op(lambda v: v.seconds(layer))
    m["inference.jobs"] = per_op(lambda v: v.jobs("inference"))
    m["profile.shuffle_mb"] = per_op(lambda v: v.shuffle_mb("profile"))
    m["profile.max_task_s"] = per_op(lambda v: v.max_task_s("profile"))
    m["categorical.shuffle_mb"] = per_op(lambda v: v.shuffle_mb("categorical"))
    m["categorical.cells"] = extra("categorical.cells")
    m["correlation.driver_s"] = per_op(lambda v: v.driver_s("correlation"))
    m["correlation.pairs"] = extra("correlation.pairs")
    m["groups.jobs"] = per_op(lambda v: v.jobs("groups"))
    m["groups.shuffle_mb"] = per_op(lambda v: v.shuffle_mb("groups"))
    m["pipeline.jobs"] = per_op(lambda v: v.jobs("pipeline"))
    m["pipeline.stages"] = per_op(lambda v: v.stages("pipeline"))
    m["pipeline.driver_s"] = per_op(lambda v: v.driver_s("pipeline"))
    m["pipeline.overlap"] = per_op(
        lambda v: sum(v.seconds(f) for f in FAMILIES) / v.seconds("pipeline") if v.seconds("pipeline") else 0.0
    )
    m["pipeline.leaked_cache_blocks"] = median(op.leaked_blocks for op in ops)
    m["pipeline.leaked_cache_mb"] = median(op.leaked_mb for op in ops)
    m["report.jobs"] = per_op(lambda v: v.jobs("report"))
    m["sources.write_s"] = per_op(lambda v: v.seconds("sources"))
    m["sources.bytes_written"] = extra("bytes_written")
    m["sources.files_written"] = extra("files_written")

    m["mergeable.ingest_s"] = per_op(lambda v: v.seconds("mergeable.ingest"))
    m["mergeable.ingest_jobs"] = per_op(lambda v: v.jobs("mergeable.ingest"))
    queries = [(v, s) for v in views for s in v.of("mergeable.query")]
    rows = [n for op in traced for n in op.extra.get("result_rows", [])]
    m["mergeable.query_s"] = median(s.t1 - s.t0 for _, s in queries)
    m["mergeable.query_jobs"] = median(v.total([s], work.jobs) for v, s in queries)
    m["mergeable.query_driver_s"] = median(
        (s.t1 - s.t0) - busy_seconds(v.tasks([s]), s.t0, s.t1) for v, s in queries
    )
    m["mergeable.rows_read_per_result"] = median(
        sum(t.records_read for t in v.tasks([s])) / max(1, n) for (v, s), n in zip(queries, rows)
    )
    m["mergeable.state_files"] = finish.get("state_files", 0)

    dedup = ("dedup.lsh", "dedup.cluster", "dedup.survivors")
    m["dedup.lsh_s"] = per_op(lambda v: v.seconds("dedup.lsh"))
    m["dedup.cluster_s"] = per_op(lambda v: v.seconds("dedup.cluster"))
    m["dedup.survivors_s"] = per_op(lambda v: v.seconds("dedup.survivors"))
    m["dedup.candidate_pairs"] = extra("candidate_pairs")
    m["dedup.true_pairs"] = extra("true_pairs")
    m["dedup.useful_ratio"] = median(
        op.extra["true_pairs"] / op.extra["candidate_pairs"]
        for op in traced
        if op.extra.get("candidate_pairs")
    )
    m["dedup.shuffle_mb"] = per_op(lambda v: sum(v.shuffle_mb(layer) for layer in dedup))
    m["dedup.max_task_s"] = per_op(lambda v: max(v.max_task_s(layer) for layer in dedup))

    m["spark.gc_s"] = per_op(lambda v: sum(t.gc_s for t in v.all_tasks()))
    m["spark.spill_mb"] = per_op(lambda v: sum(t.spill_bytes for t in v.all_tasks()) / 1e6)
    m["spark.failed_tasks"] = per_op(lambda v: sum(1 for t in v.all_tasks() if t.failed))
    return m


# -- main ------------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--tiny", action="store_true", help="run the operations on the tiny inputs")
    args = parser.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    try:
        import pyspark_data_drift_detector_spark  # noqa: F401 - the engine under test
    except ImportError as exc:
        print(f"cannot import the drift engine: {exc}", file=sys.stderr)
        return 2
    from perfbench.trace import Tracer, read_event_log
    from perfbench.workloads import WORKLOADS, clean_storage

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(spec["session"], work, bool(args.trace))
        session_s = time.perf_counter() - t0

        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](
            spark, spec["workloads"][args.workload], args.seed, work, tracer, args.tiny
        )
        # set-up is repeated and its median kept: input generation runs
        # SETUP_REPEATS times; the session start, which cannot be repeated
        # in one process, and the one-time preparation run once
        gen_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate(os.path.join(work, f"inputs-{i}"))
            gen_s.append(time.perf_counter() - t0)
            clean_storage(spark)
        for i in range(SETUP_REPEATS - 1):
            shutil.rmtree(os.path.join(work, f"inputs-{i}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.prepare()
        setup_s = session_s + median(gen_s) + (time.perf_counter() - t0)

        tracer.enabled = bool(args.trace)
        tracer.install()
        ops, k, start = [], 0, time.perf_counter()
        while wl.has_next(k) and (k == 0 or time.perf_counter() - start < args.seconds):
            ops.append(wl.run_op(k))
            k += 1
        finish = wl.finish(ops)
        rss = peak_rss_mb()
        # every sample behind the medians, on its own line before the result
        print(json.dumps({
            "samples": {
                "session_s": session_s,
                "generate_s": gen_s,
                "prepare_s": setup_s - session_s - median(gen_s),
                "run_s": [op.run_s for op in ops],
                "ingest_s": [op.ingest_s for op in ops],
                "query_s": [op.query_s for op in ops],
                "leaked_cache_blocks": [op.leaked_blocks for op in ops],
            }
        }), flush=True)
        tracer.uninstall()
        stop_session(spark)
        spark = None

        if args.trace:
            metrics = per_layer(tracer, read_event_log(os.path.join(work, "events"), tracer.spans), ops, finish)
            wanted = bench["per_layer"]
        else:
            metrics = end_to_end(ops, setup_s, finish, rss)
            wanted = bench["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not computed: {missing}")
        attempted = sum(op.attempted for op in ops)
        failed = sum(min(op.failed, op.attempted) for op in ops)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
