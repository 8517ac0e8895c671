"""Run the benchmark over several seeds and summarize every metric.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1]

For each metric prints the median over the runs and the spread: the
distance between the first and third quartiles (``statistics.quantiles``,
n=4) as a share of the median, next to the metric's bound. With
``--trace 1`` it also runs the untraced benchmark on the same seeds and
prints the tracing overhead: traced minus untraced ``run_s.p50``. Every
run's result line is printed as it arrives.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    print(json.dumps({"seed": seed, "trace": trace, **result}), flush=True)
    return result


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", default="1-10")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    results = [run(args.workload, s, bench["run_seconds"], args.trace) for s in seeds(args.seeds)]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    failed = sum(r["failed"] for r in results)
    print(f"{args.workload}: {len(results)} runs, {failed} failed of {sum(r['attempted'] for r in results)}")
    for name in results[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in results])
        bound = bounds.get(name)
        note = f"  bound {bound}" if bound is not None else ""
        print(f"  {name:34s} median {med:12.4f} {results[0]['metrics'][name]['unit']:6s} spread {sp:.4f}{note}")
    if args.trace:
        plain = [run(args.workload, s, bench["run_seconds"], 0) for s in seeds(args.seeds)]
        traced = statistics.median(r["metrics"]["trace.run_s.p50"]["value"] for r in results)
        untraced = statistics.median(r["metrics"]["run_s.p50"]["value"] for r in plain)
        print(f"  tracing overhead (traced - untraced run_s.p50): {traced - untraced:.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
