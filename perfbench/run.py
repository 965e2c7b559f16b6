"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 14 --trace 0

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The exit code is
0 only when every output check passed.  Everything the run writes stays
under ``.bench_work/`` at the checkout root; the run's full record (host
facts, every raw per-step number) is kept in ``.bench_work/results/`` and
a traced run's spans next to it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, as near as Python allows

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

WORKLOADS = ("crawl_bulk", "analytics_sf001")
INJECTIONS = ("dup_frontier", "oracle_count", "query_rows")
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test smoke size")
    ap.add_argument("--inject", choices=INJECTIONS, default=None, help="self-test fault injection")
    return ap.parse_args(argv)


def program_present(repo: str) -> bool:
    need = ("engine/crawl.py", "analytics/common.py", "pyref/oracle.py", "bench.py", "__spark_entry__.py")
    return all(os.path.isfile(os.path.join(repo, p)) for p in need)


def pin_environment(work: str) -> dict:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work dir, and pin the driver memory; returns the session conf."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    from perfbench.procstat import tree, wait_gone

    kids = [p for p in tree() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate to a kill below
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in wait_gone(kids, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(kids, 10)


def run(args: argparse.Namespace) -> int:
    from perfbench import procstat
    from perfbench.context import Outcome, RunContext
    from perfbench.metrics import END_TO_END, PER_LAYER, median_of_dicts, result_line
    from perfbench.spans import Tracer, event_log_conf, read_event_log, spark_counters

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    work_root = os.path.join(REPO, ".bench_work")
    work = os.path.join(work_root, "runs", run_id)
    conf = pin_environment(work)
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(event_log_conf(event_dir))
    env = procstat.environment()
    ticks0 = procstat.host_cpu_ticks()
    rss = procstat.RssSampler().start()
    ctx = RunContext(
        repo=REPO,
        work_root=work_root,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        size=args.size,
        inject=args.inject,
        t_start=T_START,
        tracer=Tracer(run_id, enabled=bool(args.trace)),
    )
    if args.workload == "crawl_bulk":
        from perfbench import crawl_bulk as workload
    else:
        from perfbench import analytics_suite as workload

    outcome = Outcome(attempted=1, failed=1)
    try:
        from engine.session import build_session

        env["master"] = f"local[{workload.task_slots(env['nproc'])}]"
        with ctx.tracer.span("session.start"):
            t0 = time.perf_counter()
            ctx.spark = build_session(
                app_name=f"perfbench-{args.workload}",
                master=env["master"],
                extra_conf=conf,
            )
            ctx.spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
        outcome = workload.run(ctx)
        outcome.layers["session.start_s"] = session_s
    except Exception:  # noqa: BLE001 - report the failed run, then exit non-zero
        traceback.print_exc()
        outcome.errors.append("workload raised; see traceback on stderr")
    finally:
        stop_spark(ctx.spark)
        peak_rss = rss.stop()
    env["steal_pct"] = procstat.steal_pct(ticks0, procstat.host_cpu_ticks())

    if args.trace and outcome.windows and os.path.isdir(event_dir):
        counters = spark_counters(read_event_log(event_dir), outcome.windows)
        outcome.layers.update({f"spark.{k}": v for k, v in median_of_dicts(counters).items()})

    correct = not outcome.errors and outcome.failed == 0 and outcome.attempted > 0
    outcome.layers["proc.peak_rss_mb"] = peak_rss
    values = dict(outcome.e2e, setup_s=outcome.setup_s, cpu_s=outcome.cpu_s)
    record = {
        "run_id": run_id,
        "args": vars(args),
        "environment": env,
        "correct": correct,
        "errors": outcome.errors,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "failed_frac": outcome.failed / max(1, outcome.attempted),
        "end_to_end": values,
        "per_layer": outcome.layers,
        "raw": outcome.raw,
    }
    results = os.path.join(work_root, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        ctx.tracer.write(os.path.join(results, f"{run_id}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    for err in outcome.errors:
        print(f"perfbench: CHECK FAILED: {err}", file=sys.stderr)

    if args.trace:
        names, vals = PER_LAYER, {k: outcome.layers.get(k, 0.0) for k in PER_LAYER}
    else:
        names, vals = END_TO_END, values
    if not set(names) <= set(vals) or (not correct and not outcome.e2e):
        names = {}  # the run stopped before it measured
    print(json.dumps(result_line(correct, outcome.attempted, outcome.failed, vals, names)))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present(REPO):
        print(f"perfbench: the program's sources are not under {REPO}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
