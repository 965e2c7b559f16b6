"""Metric names, units and the small statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric
names: ``BENCHMARK.json`` lists the same names (a self-test pins that), and
``run.py`` prints exactly these per run.
"""

from __future__ import annotations

import statistics

# name -> (unit, better); the bound per metric lives in BENCHMARK.json
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "step_s_p50": ("s", "lower"),
    "cpu_s": ("s", "lower"),
}

ANALYTICS_MODULES = (
    "relational",
    "crawl_queries",
    "dedup",
    "similarity",
    "text",
    "multimodal",
    "pipeline",
    "graph",
    "events",
)

CRAWL_FUTURES = (
    "crawl_log",
    "fetch_stats",
    "dis_stats",
    "insert_cells",
    "seen",
    "robots_delta",
    "lineage",
    "merged",
)

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "crawl.init_run_s": ("s", "lower"),
    **{f"crawl.phase.{p}_s": ("s", "lower") for p in ("gate_build", "fetch_write", "overlap", "commit")},
    **{f"crawl.future.{f}_s": ("s", "lower") for f in CRAWL_FUTURES},
    "catalog.read_pending_s": ("s", "lower"),
    "catalog.pending_files": ("count", "lower"),
    "catalog.files_written": ("count", "lower"),
    "catalog.mb_written": ("MB", "lower"),
    "robots.gate_s": ("s", "lower"),
    "frontier.pop_s": ("s", "lower"),
    "frontier.popped_rows": ("count", "higher"),
    "fetch.fetch_parse_s": ("s", "lower"),
    "parse.extract_candidates_s": ("s", "lower"),
    "canonicalize.fast_path_ratio": ("ratio", "higher"),
    "urlnorm.canonicalize_us": ("us", "lower"),
    "seen.probe_s": ("s", "lower"),
    "seen.maybe_seen_ratio": ("ratio", "lower"),
    "seen.d2_waste_ratio": ("ratio", "lower"),
    "seen.new_ratio": ("ratio", "higher"),
    "seen.update_s": ("s", "lower"),
    "cuckoo.insert_us": ("us", "lower"),
    "cuckoo.probe_us": ("us", "lower"),
    "lineage.partition_lineage_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "proc.driver_cpu_s": ("s", "lower"),
    "proc.jvm_cpu_s": ("s", "lower"),
    "proc.pyworker_cpu_s": ("s", "lower"),
    "proc.peak_rss_mb": ("MB", "lower"),
    **{f"analytics.{m}_s": ("s", "lower") for m in ANALYTICS_MODULES},
    "trace.step_s_p50": ("s", "lower"),
}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def median_of_dicts(rows: list[dict]) -> dict:
    """Per-key median over a list of same-keyed dicts (one per epoch/pass)."""
    keys = {k for r in rows for k in r}
    return {k: median(r[k] for r in rows if k in r) for k in sorted(keys)}


def result_line(correct: bool, attempted: int, failed: int, values: dict, names: dict) -> dict:
    """The contract's last-line object; ``values`` must cover ``names``."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, (unit, _better) in names.items()
        },
    }
