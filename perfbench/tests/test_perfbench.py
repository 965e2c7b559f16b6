"""Self-tests of the benchmark: metric names, samplers, checks that can fail.

    python3 -m pytest perfbench/tests -q

The smoke and fault-injection tests run the real command at the ``tiny``
size, a few Spark sessions in all (several minutes on four cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)

from perfbench import datagen, procstat  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.spans import spark_counters  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_cmd(*args: str, cwd: str = REPO, timeout: int = 300) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return proc.returncode, last, proc.stderr


# ------------------------------------------------------------------ metrics
def test_metric_names_match_spec_and_carry_units():
    spec = load_spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for section, defs in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: m for m in spec[section]}
        assert list(listed) == list(defs), section
        for name, m in listed.items():
            assert NAME_RE.match(name), name
            assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]), name
            assert (m["unit"], m["better"]) == defs[name], name
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m["name"]
    setup = {m["name"]: m for m in spec["end_to_end"]}["setup_s"]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# ------------------------------------------------------------------ samplers
def test_cpu_sampler_reads_a_busy_loop():
    before = procstat.tree_cpu()
    p0 = time.process_time()
    while time.process_time() - p0 < 0.6:
        pass
    own = time.process_time() - p0
    # a child that burns CPU and exits is counted through our cutime
    child = subprocess.run(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.6: pass"],
        check=True,
    )
    assert child.returncode == 0
    got = procstat.cpu_delta(before, procstat.tree_cpu())["driver"]
    assert own + 0.6 - 0.1 <= got <= own + 0.6 + 0.4, got


def test_spark_counters_attribute_tasks_by_window():
    def task(stage, launch, run_ms, cpu_ns, written):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": written},
                "Disk Bytes Spilled": 0,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_000},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1_100}},
        task(0, 1_200, 10, 1e9, 2_000_000),
        task(0, 1_300, 30, 1e9, 0),
        task(0, 1_400, 10, 1e9, 0),
        task(1, 5_500, 10, 1e9, 0),
    ]
    first, second = spark_counters(events, [(1.0, 2.0), (5.0, 6.0)])
    assert (first["jobs"], first["stages"], first["tasks"]) == (1, 1, 3)
    assert first["task_cpu_s"] == pytest.approx(3.0)
    assert first["shuffle_write_mb"] == pytest.approx(2.0)
    assert first["task_skew"] == pytest.approx(3.0)
    assert (second["tasks"], second["task_skew"]) == (1, 1.0)


def test_datagen_is_a_function_of_the_seed():
    a, b, c = (datagen.make_tables(s, 0.001) for s in (7, 7, 8))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == datagen.row_counts(0.001)


# ------------------------------------------------------------------ command
def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, last, _err = run_cmd(
        "--workload", "crawl_bulk", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path), timeout=60
    )
    assert code != 0
    assert last is None


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ("0", "1"))
def test_tiny_smoke(workload, trace):
    code, last, err = run_cmd(
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--size", "tiny"
    )
    assert code == 0, err[-3000:]
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    names = PER_LAYER if trace == "1" else END_TO_END
    assert set(last["metrics"]) == set(names)
    for name, m in last["metrics"].items():
        assert m["unit"] == names[name][0]
    if trace == "0":
        assert all(m["value"] > 0 for m in last["metrics"].values())


@pytest.mark.parametrize(
    "workload,fault",
    [("crawl_bulk", "dup_frontier"), ("crawl_bulk", "oracle_count"), ("analytics_sf001", "query_rows")],
)
def test_injected_fault_fails_the_command(workload, fault):
    code, last, err = run_cmd(
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--size", "tiny", "--inject", fault
    )
    assert code != 0
    assert last is not None and last["correct"] is False and last["failed"] >= 1
    assert "CHECK FAILED" in err


# -------------------------------------------------------------- pruning guard
def test_pruning_guard_sees_the_udf_under_noop_but_not_under_count(tmp_path):
    from engine.session import build_session

    import __spark_entry__ as se
    from perfbench.analytics_suite import GUARD_QUERY, noop, runs_python_udf

    data = datagen.write_tables(str(tmp_path / "data"), 5, 0.001)
    spark = build_session(app_name="perfbench-guard", master="local[2]")
    try:
        query = se.queries()[GUARD_QUERY]
        assert runs_python_udf(spark, lambda: noop(query(spark, data)))
        assert not runs_python_udf(spark, lambda: query(spark, data).count())
    finally:
        spark.stop()
