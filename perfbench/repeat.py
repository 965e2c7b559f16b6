"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload crawl_bulk --seeds 1-10
    python3 perfbench/repeat.py --workload crawl_bulk --seeds 1-3 --overhead

For every end-to-end metric it prints the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread, the interquartile
distance as a share of the median, next to the metric's bound from
``BENCHMARK.json``.  ``--overhead`` also makes a traced run per seed and
reports the tracing overhead: the traced run's ``trace.step_s_p50`` over
the untraced ``step_s_p50``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    result["exit_code"] = proc.returncode
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    overheads = []
    for seed in seed_list(args.seeds):
        res = run_once(args.workload, seed, seconds, 0)
        print(json.dumps({"seed": seed, **res}), flush=True)
        if res["exit_code"] != 0:
            return 1
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.overhead:
            traced = run_once(args.workload, seed, seconds, 1)
            if traced["exit_code"] != 0:
                return 1
            t = traced["metrics"]["trace.step_s_p50"]["value"]
            overheads.append(t / res["metrics"]["step_s_p50"]["value"] - 1.0)
            print(f"seed {seed}: traced step p50 {t:.3f}s, overhead {overheads[-1]:+.1%}", flush=True)
    if len(next(iter(values.values()))) >= 2:
        print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for name, vals in values.items():
            med, q1, q3, sp = spread(vals)
            print(f"{name:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{bounds.get(name, 0):>8}")
    if overheads:
        print(f"tracing overhead on step_s_p50: median {statistics.median(overheads):+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
