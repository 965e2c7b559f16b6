"""analytics_sf001: the headline analytics queries at sf0.01-shaped data.

The queries are a subset of ``bench.HEADLINE`` (imported, not copied):
one per ``analytics`` module that has a headline query (two for
``crawl_queries``), chosen so a pass fits the benchmark's time budget.
The tables are generated from the seed (perfbench/datagen.py) with the
sf0.01 row counts, and the seed also permutes the query order.  Every
timed query runs through the noop sink, which executes the whole plan: a
``count()`` lets Catalyst prune unread columns and the Python UDFs that
compute them.  Set-up runs a pass that collects each query's rows and two
untimed passes through the sink; the collected rows are checked after the
timed region against the query's DuckDB twin under
``tools/check_parity.py``'s normalization (a query without a twin must
return rows).  One client, closed loop: a query starts when the previous
one has finished.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from dataclasses import dataclass

from perfbench.metrics import ANALYTICS_MODULES, median, median_of_dicts
from perfbench.procstat import cpu_delta, tree_cpu

SUITE = (
    "a1_hash_agg",
    "frontier_pop",
    "canonicalize_urls",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_normalize_nfc",
    "media_interleaved_pack",
    "pipeline_multimodal_corpus",
    "link_cocitation_topk",
    "events_sessionize",
)
# the query whose plan the pruning guard inspects, and the plan nodes that
# evaluate Python UDFs (scalar pandas UDF / plain Python UDF)
GUARD_QUERY = "canonicalize_urls"
PYTHON_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")


@dataclass(frozen=True)
class Size:
    sf: float
    queries: tuple[str, ...]


SIZES = {
    "full": Size(0.01, SUITE),
    "tiny": Size(0.001, ("a1_hash_agg", "canonicalize_urls", "dedup_minhash_lsh")),
}
# timed passes per run: max(2, round(seconds / PASS_NOMINAL_S)), so the work
# a run does depends on --seconds only, not on how fast the queries are
PASS_NOMINAL_S = 6.5
# untimed sink passes after the collecting pass: pass walls kept falling,
# by about a tenth in all, over the first three passes after it (JIT)
WARMUP_SINK_PASSES = 2


def task_slots(nproc: int) -> int:
    """Spark task slots.  The sf0.01 queries are latency-bound: their passes
    ran as fast on two slots as on four, and with fewer parallel tasks per
    stage a stalled core holds up fewer stages (host steal of 5-9% slowed
    the passes by up to 40% on four slots)."""
    return min(2, nproc)


def noop(df) -> None:
    """The benchmark's sink: executes the whole plan, keeps nothing."""
    df.write.format("noop").mode("overwrite").save()


def module_of(name: str) -> str:
    import importlib

    for mod in ANALYTICS_MODULES:
        if name in importlib.import_module(f"analytics.{mod}").QUERIES:
            return mod
    raise KeyError(name)


def executed_plans_since(spark, n_before: int) -> list[str]:
    """Physical plans of the SQL executions recorded after the first
    ``n_before`` (Spark's SQL status store; kept with the UI off)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [str(execs.apply(i).physicalPlanDescription()) for i in range(n_before, execs.size())]


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsList().size()


def runs_python_udf(spark, action) -> bool:
    """Whether the plans ``action()`` executes contain a Python UDF node."""
    n = execution_count(spark)
    action()
    return any(node in plan for plan in executed_plans_since(spark, n) for node in PYTHON_UDF_NODES)


def twin_mismatches(data_dir: str, results: dict, inject: str | None) -> list[str]:
    """Queries whose collected rows differ from their DuckDB twin (or,
    without a twin, returned no rows)."""
    import duckdb

    import __spark_entry__ as se
    from analytics.common import TABLES
    from tools.check_parity import normalize

    twins = se.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        errors = []
        for name, (cols, rows) in sorted(results.items()):
            if inject == "query_rows" and rows:
                rows = rows[1:]
            if name not in twins:
                if not rows:
                    errors.append(f"{name}: no rows (no DuckDB twin)")
                continue
            cur = con.execute(twins[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            if sorted(dcols) != sorted(cols):
                errors.append(f"{name}: columns {sorted(cols)} != twin {sorted(dcols)}")
            elif len(drows) != len(rows):
                errors.append(f"{name}: {len(rows)} rows != twin {len(drows)}")
            elif normalize(drows, dcols) != normalize(rows, cols):
                errors.append(f"{name}: values differ from the DuckDB twin")
        return errors
    finally:
        con.close()


def run(ctx):
    import __spark_entry__ as se
    import bench

    from perfbench import datagen
    from perfbench.context import Outcome

    size = SIZES[ctx.size]
    missing = [q for q in size.queries if q not in bench.HEADLINE]
    if missing:
        raise ValueError(f"queries not in bench.HEADLINE: {missing}")
    tr, spark = ctx.tracer, ctx.spark
    outcome = Outcome()
    with tr.span("datagen", sf=size.sf):
        data = datagen.write_tables(os.path.join(ctx.work, "data"), ctx.seed, size.sf)
    order = list(size.queries)
    random.Random(ctx.seed).shuffle(order)
    modules = {q: module_of(q) for q in order}
    queries = se.queries()

    results: dict[str, tuple[list[str], list[tuple]]] = {}
    walls: dict[str, list[float]] = {q: [] for q in order}
    n_passes = max(2, round(ctx.seconds / PASS_NOMINAL_S))
    windows, per_pass_layers = [], []
    try:
        with tr.span("warmup_pass"):
            for name in order:
                with tr.span("query", query=name, warmup=True):
                    df = queries[name](spark, data)
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
        for w in range(WARMUP_SINK_PASSES):
            with tr.span("warmup_sink_pass", index=w):
                for name in order:
                    noop(queries[name](spark, data))
        outcome.setup_s = time.perf_counter() - ctx.t_start
        cpu0 = tree_cpu()
        for p in range(n_passes):
            c0, w0 = tree_cpu(), time.time()
            with tr.span("pass", index=p):
                for name in order:
                    with tr.span("query", query=name, module=modules[name]):
                        t0 = time.perf_counter()
                        noop(queries[name](spark, data))
                        walls[name].append(time.perf_counter() - t0)
            if ctx.trace:
                windows.append((w0, time.time()))
                per_pass_layers.append(
                    {f"proc.{r}_cpu_s": v for r, v in cpu_delta(c0, tree_cpu()).items()}
                )
        outcome.raw["cpu_by_role_s"] = cpu_delta(cpu0, tree_cpu())
        outcome.cpu_s = sum(outcome.raw["cpu_by_role_s"].values())
    except Exception:  # noqa: BLE001 - a failed query is a benchmark result
        traceback.print_exc()
        outcome.attempted = len(order) * (1 + WARMUP_SINK_PASSES + n_passes)
        outcome.failed = 1
        outcome.errors.append("query raised; see traceback on stderr")
        return outcome

    outcome.attempted = len(order) * (1 + WARMUP_SINK_PASSES + n_passes)
    with tr.span("check"):
        errors = twin_mismatches(data, results, ctx.inject)
        if GUARD_QUERY in order and not runs_python_udf(spark, lambda: noop(queries[GUARD_QUERY](spark, data))):
            errors.append(f"{GUARD_QUERY}: the sink's executed plan has no Python UDF node")
    outcome.failed = len(errors)
    outcome.errors = errors

    per_query = {q: median(w) for q, w in walls.items()}
    suite_s = sum(per_query.values())
    outcome.e2e.update(
        throughput_per_s=len(order) / suite_s,
        step_s_p50=median(per_query.values()),
    )
    layers = median_of_dicts(per_pass_layers)
    for q, t in per_query.items():
        key = f"analytics.{modules[q]}_s"
        layers[key] = layers.get(key, 0.0) + t
    layers["trace.step_s_p50"] = median(per_query.values()) if ctx.trace else 0.0
    outcome.layers.update(layers)
    outcome.windows = windows
    outcome.raw.update(
        size=ctx.size,
        sink="noop",
        query_order=order,
        query_walls_s=walls,
        query_suite_s=suite_s,
        query_s_p50=median(per_query.values()),
        query_s_max=max(per_query.values()),
        passes=n_passes,
    )
    return outcome
