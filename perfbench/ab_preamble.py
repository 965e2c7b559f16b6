"""A/B: crawl_bulk alone vs after an analytics query preamble in one session.

    python3 perfbench/ab_preamble.py --seed 1

``bench.py`` times its crawl section after the whole ``bench.HEADLINE``
query pass, in the same SparkSession.  This script runs that shape: every
headline query once (``count()``, as ``bench.py`` does) over the seeded
sf0.01-shaped tables, then the crawl_bulk workload, and prints the crawl's
numbers next to those of a crawl_bulk run in a fresh process at the same
seed.  If the preamble leaves the session slower (heap, code cache,
cached data, Python workers), the crawl after it shows a lower
``throughput_per_s`` than the crawl alone.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def crawl_after_preamble(seed: int, seconds: int) -> dict:
    import __spark_entry__ as se
    import bench
    from engine.session import build_session

    from perfbench import crawl_bulk, datagen
    from perfbench.context import RunContext
    from perfbench.run import pin_environment, stop_spark
    from perfbench.spans import Tracer

    work_root = os.path.join(REPO, ".bench_work")
    work = os.path.join(work_root, "runs", f"ab_preamble-s{seed}-{os.getpid()}")
    conf = pin_environment(work)
    spark = build_session(app_name="perfbench-ab", master=f"local[{len(os.sched_getaffinity(0))}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        data = datagen.write_tables(os.path.join(work, "data"), seed, 0.01)
        queries = se.queries()
        t0 = time.perf_counter()
        for name in bench.HEADLINE:
            queries[name](spark, data).count()
        preamble_s = time.perf_counter() - t0
        ctx = RunContext(
            repo=REPO, work_root=work_root, work=work, seed=seed, seconds=seconds, trace=False,
            size="full", inject=None, t_start=time.perf_counter(), tracer=Tracer("ab", enabled=False),
            spark=spark,
        )
        out = crawl_bulk.run(ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {
        "preamble_queries": len(bench.HEADLINE),
        "preamble_s": preamble_s,
        "correct": not out.errors,
        "throughput_per_s": out.e2e.get("throughput_per_s"),
        "epoch_walls_s": out.raw.get("epoch_walls_s"),
    }


def crawl_alone(seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "crawl_bulk", "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    return {
        "correct": res["correct"],
        "throughput_per_s": res["metrics"]["throughput_per_s"]["value"],
        "step_s_p50": res["metrics"]["step_s_p50"]["value"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    alone = crawl_alone(args.seed, seconds)
    after = crawl_after_preamble(args.seed, seconds)
    print(json.dumps({"seed": args.seed, "alone": alone, "after_preamble": after}))
    return 0 if alone["correct"] and after["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
