"""crawl_bulk: a broad throughput crawl of the synthetic web graph.

Every host is seeded with several pages and gets the same politeness
budget (``CrawlEngine(bench_budget=...)``), so each epoch pops a large
batch and the epoch wall carries per-row work (fetch/parse, canonicalize,
seen-filter probe and update, merge writes) on top of the per-epoch fixed
cost.  Every host is seeded with as many pages as its budget and links
to many more, so each epoch pops exactly ``budget`` URLs per host that
robots allow: the measured epochs have one size for every seed.  Robots
rules and deterministic fetch failures with retries are on, so every
epoch stage runs.  Set-up is the crawl's ``init_run`` and its first
epoch, a full-size warm-up that pays the JIT and first-use costs; epochs
2..N+1 are measured.  The client is one closed loop: an epoch starts only
after the previous one has committed.

Correctness (outside the timed region): the per-epoch metrics, the
per-host crawl order and the URL-seen set must equal the pure-Python
oracle ``pyref.oracle.run_crawl`` run with its budget function replaced by
the same uniform budget, and the committed frontier must hold one row per
``url_hash``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench.metrics import CRAWL_FUTURES, median, median_of_dicts
from perfbench.procstat import cpu_delta, tree_cpu


@dataclass(frozen=True)
class Size:
    n_hosts: int
    seed_pages: int
    budget: int
    max_pages: int
    max_depth: int
    fail_mod: int
    n_buckets: int
    n_filter_parts: int
    salt: int


SIZES = {
    "full": Size(200, 15, 15, 400, 6, 20, 64, 16, 16),
    "tiny": Size(12, 6, 2, 40, 4, 20, 8, 4, 4),
}
# measured epochs per run: max(2, round(seconds / EPOCH_NOMINAL_S)), so the
# work a run does depends on --seconds only, not on how fast epochs are
EPOCH_NOMINAL_S = 14.0
ORACLE_KEYS = (
    "urls_popped",
    "urls_fetch_ok",
    "urls_fetch_fail",
    "docs_parsed",
    "outlinks_extracted",
    "outlinks_candidates",
    "outlinks_new",
    "disallowed",
    "pending_end",
)
# sources whose change invalidates a cached oracle result
ORACLE_SOURCES = (
    "pyref/oracle.py",
    "engine/synthgraph.py",
    "engine/urlnorm.py",
    "engine/xxh64.py",
)


def task_slots(nproc: int) -> int:
    """Spark task slots: every core, the crawl keeps them all busy."""
    return nproc


def seed_urls(size: Size) -> list[str]:
    return [
        f"https://host{h:04d}.example/page/{p}"
        for h in range(size.n_hosts)
        for p in range(size.seed_pages)
    ]


def noop(df) -> None:
    """The benchmark's sink: executes the whole plan, keeps nothing."""
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------- committed state
def _parquet_files(dirs) -> list[str]:
    return sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def frontier_files(catalog, epoch: int) -> list[str]:
    parts = catalog.manifest(epoch)["snapshots"]["frontier"]["parts"]
    return _parquet_files(d for dirs in parts.values() for d in dirs)


def read_column(files: list[str], columns: list[str]) -> dict[str, np.ndarray]:
    tables = [pq.read_table(f, columns=columns) for f in files]
    return {
        c: np.concatenate([t.column(c).to_numpy() for t in tables]) if tables else np.array([])
        for c in columns
    }


def digest(items) -> str:
    h = hashlib.sha256()
    for item in items:
        h.update(repr(item).encode())
        h.update(b"\n")
    return h.hexdigest()


def committed_state(catalog, last_epoch: int) -> dict:
    """Seen set, per-host crawl order and frontier uniqueness, read from
    the committed parquet files (no Spark job)."""
    hashes = read_column(frontier_files(catalog, last_epoch), ["url_hash"])["url_hash"]
    log_rows = []
    for e in range(1, last_epoch + 1):
        entry = catalog.manifest(e)["appends"]["crawl_log"]
        cols = read_column(_parquet_files([entry["path"]]), ["host", "fetch_seq_in_host", "url_hash"])
        log_rows.extend(
            (e, str(h), int(s), int(u))
            for h, s, u in zip(cols["host"], cols["fetch_seq_in_host"], cols["url_hash"])
        )
    return {
        "frontier_rows": int(len(hashes)),
        "frontier_distinct": int(len(np.unique(hashes))),
        "seen_digest": digest(sorted(int(x) for x in np.unique(hashes))),
        "crawl_log_digest": digest(sorted(log_rows)),
    }


def inject_duplicate_frontier_row(catalog, epoch: int) -> None:
    """Fault injection for the self-tests: copy one committed frontier
    row into an extra file of the same cell."""
    src = frontier_files(catalog, epoch)[0]
    table = pq.read_table(src).slice(0, 1)
    pq.write_table(table, os.path.join(os.path.dirname(src), "injected-duplicate.parquet"))


# ------------------------------------------------------------------ oracle
def oracle(repo: str, work_root: str, size: Size, seed: int, epochs: int) -> dict:
    """pyref's crawl under the uniform budget, cached per (seed, size,
    epochs, oracle sources) under the benchmark's work directory."""
    src = hashlib.sha256()
    for rel in ORACLE_SOURCES:
        with open(os.path.join(repo, rel), "rb") as f:
            src.update(f.read())
    key = hashlib.sha256(f"{size}|{seed}|{epochs}|{src.hexdigest()}".encode()).hexdigest()[:24]
    path = os.path.join(work_root, "oracle-cache", f"crawl_bulk-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from pyref import oracle as pyref_oracle

    cfg = graph_config(size, seed)
    saved = pyref_oracle.budget_for_host
    pyref_oracle.budget_for_host = lambda host: size.budget
    try:
        res = pyref_oracle.run_crawl(seed_urls(size), cfg, max_epochs=epochs)
    finally:
        pyref_oracle.budget_for_host = saved
    out = {
        "metrics": [{k: m[k] for k in ORACLE_KEYS} for m in res.metrics],
        "seen_digest": digest(sorted(res.seen_set)),
        "crawl_log_digest": digest(sorted((e, h, s, u) for e, h, s, _url, u in res.crawl_log)),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def graph_config(size: Size, seed: int):
    from engine.synthgraph import GraphConfig

    return GraphConfig(
        n_hosts=size.n_hosts,
        max_pages=size.max_pages,
        max_depth=size.max_depth,
        fail_mod=size.fail_mod,
        graph_seed=seed,
    )


def check(ctx, catalog, size: Size, epoch_metrics: list[dict]) -> tuple[int, list[str]]:
    """(failed epoch count, error messages) of the correctness gate."""
    n = len(epoch_metrics)
    if ctx.inject == "dup_frontier":
        inject_duplicate_frontier_row(catalog, n)
    ref = oracle(ctx.repo, ctx.work_root, size, ctx.seed, n)
    if ctx.inject == "oracle_count":
        ref["metrics"][0]["urls_popped"] += 1
    errors = []
    bad_epochs = set()
    if len(ref["metrics"]) != n:
        errors.append(f"oracle ran {len(ref['metrics'])} epochs, engine {n}")
    for e, (mine, theirs) in enumerate(zip(epoch_metrics, ref["metrics"]), start=1):
        diff = {k: (mine[k], theirs[k]) for k in ORACLE_KEYS if mine[k] != theirs[k]}
        if diff:
            bad_epochs.add(e)
            errors.append(f"epoch {e} metrics differ from the oracle (engine, oracle): {diff}")
    state = committed_state(catalog, n)
    if state["frontier_rows"] != state["frontier_distinct"]:
        errors.append(
            f"committed frontier has {state['frontier_rows']} rows for "
            f"{state['frontier_distinct']} distinct url_hash"
        )
    if state["seen_digest"] != ref["seen_digest"]:
        errors.append("URL-seen set differs from the oracle")
    if state["crawl_log_digest"] != ref["crawl_log_digest"]:
        errors.append("per-host crawl order differs from the oracle")
    failed = len(bad_epochs) or (1 if errors else 0)
    return failed, errors


# ------------------------------------------------------------------ layers
def replay_layers(ctx, eng, epoch: int, size: Size, metrics: dict) -> dict:
    """Re-run each layer's public function on epoch ``epoch``'s own inputs
    (the manifest of ``epoch - 1`` and the epoch's staged ``fetched``
    dir).  Inputs are materialized first, so a layer's time excludes its
    upstream; each output goes to the noop sink.  The replayed candidate
    and new-URL counts must equal the epoch's own (``metrics``)."""
    from pyspark.sql import functions as F

    from engine import cuckoo, seen as seenmod
    from engine.canonicalize import CANONICAL_FAST_RE, path_expr
    from engine.fetch import fetch_parse
    from engine.frontier import pop_frontier
    from engine.lineage import partition_lineage
    from engine.parse import extract_candidates
    from engine.robots import robots_gate
    from engine.schemas import FETCHED_STAGED, FRONTIER, ROBOTS_RULES
    from engine.urlnorm import canonicalize_url

    spark, cat, cfg, tr = eng.spark, eng.catalog, eng.cfg, ctx.tracer
    prev = cat.manifest(epoch - 1)
    parts = prev["snapshots"]["frontier"]["parts"]
    out: dict[str, float] = {}
    cached = []

    def materialize(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    def timed(name: str, fn) -> float:
        with tr.span(name, epoch=epoch):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

    # catalog: driver-side pending listing, and the epoch's write volume
    with tr.span("catalog.read_pending", epoch=epoch):
        t0 = time.perf_counter()
        pending = cat.read_parts(parts, status="pending", schema=FRONTIER)
        out["catalog.read_pending_s"] = time.perf_counter() - t0
    out["catalog.pending_files"] = len(
        _parquet_files(d for c, dirs in parts.items() if c.startswith("pending/") for d in dirs)
    )
    stage_dir = os.path.dirname(cat.stage_path(epoch, "x"))
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _s, files in os.walk(stage_dir)
        for f in files
        if not f.startswith((".", "_"))
    ]
    out["catalog.files_written"] = len(sizes)
    out["catalog.mb_written"] = sum(sizes) / 1e6

    pending = materialize(pending.withColumn("path", path_expr()))
    robots = materialize(spark.read.schema(ROBOTS_RULES).parquet(*prev["snapshots"]["robots_rules"]["paths"]))
    out["robots.gate_s"] = timed("robots.gate", lambda: noop(robots_gate(pending, robots)))
    eligible = materialize(
        robots_gate(pending, robots).where("allowed").drop("path").withColumn("k", F.lit(size.budget))
    )
    out["frontier.pop_s"] = timed("frontier.pop", lambda: noop(pop_frontier(eligible, size.salt)))

    fetched = spark.read.schema(FETCHED_STAGED).parquet(cat.stage_path(epoch, "fetched"))
    fetch_in = materialize(fetched.select("url_hash", "url", "host", "depth", "retries"))
    out["fetch.fetch_parse_s"] = timed("fetch.fetch_parse", lambda: noop(fetch_parse(fetch_in, cfg)))
    ok = materialize(fetched.where(F.col("okp") == 1))
    out["parse.extract_candidates_s"] = timed(
        "parse.extract_candidates", lambda: noop(extract_candidates(ok, cfg, size.n_buckets))
    )
    out["lineage.partition_lineage_s"] = timed(
        "lineage.partition_lineage",
        lambda: noop(partition_lineage(fetched, epoch, "fetch_parse", f"epoch={epoch - 1}", f"epoch={epoch}")),
    )

    # canonicalize / urlnorm: the fast-path share and the slow path's cost
    links = ok.where(F.col("depth") < size.max_depth).select("url", "outlinks").toPandas()
    fast_re = re.compile(CANONICAL_FAST_RE)
    raw = [(u, base) for base, urls in zip(links["url"], links["outlinks"]) for u in urls]
    slow = [(u, base) for u, base in raw if not fast_re.match(u)]
    out["canonicalize.fast_path_ratio"] = 1.0 - len(slow) / len(raw) if raw else 0.0
    with tr.span("urlnorm.canonicalize_url", epoch=epoch, n=len(slow)):
        t0 = time.perf_counter()
        for u, base in slow:
            canonicalize_url(u, base=base)
        out["urlnorm.canonicalize_us"] = (time.perf_counter() - t0) / len(slow) * 1e6 if slow else 0.0

    # seen filter: probe (D1 + D2), its waste, and the update (D3)
    cands = materialize(extract_candidates(ok, cfg, size.n_buckets))
    blobs = materialize(spark.read.parquet(prev["snapshots"]["seen_filter"]["path"]))
    keys = materialize(cat.read_parts(parts, schema=FRONTIER).select("url_hash"))
    n_parts = size.n_filter_parts
    out["seen.probe_s"] = timed(
        "seen.probe",
        lambda: noop(
            seenmod.flag_new(seenmod.probe_filter(cands, blobs, n_parts, strategy="slim", key_unique=True), keys)
        ),
    )
    probed = materialize(seenmod.probe_filter(cands, blobs, n_parts, strategy="slim", key_unique=True))
    maybe = probed.where("maybe_seen")
    wasted = maybe.join(keys.dropDuplicates(), "url_hash", "left_anti")
    n_cands, n_maybe, n_waste = probed.count(), maybe.count(), wasted.count()
    replayed = (n_cands, n_cands - n_maybe + n_waste)
    if replayed != (metrics["outlinks_candidates"], metrics["outlinks_new"]):
        raise RuntimeError(f"epoch {epoch} replay counts (candidates, new) {replayed} differ from the epoch's")
    out["seen.maybe_seen_ratio"] = n_maybe / n_cands if n_cands else 0.0
    out["seen.d2_waste_ratio"] = n_waste / n_maybe if n_maybe else 0.0
    out["seen.new_ratio"] = replayed[1] / n_cands if n_cands else 0.0
    inserts = materialize(probed.where(~F.col("maybe_seen")).select("url_hash").unionByName(wasted.select("url_hash")))
    out["seen.update_s"] = timed("seen.update", lambda: noop(seenmod.update_filter(blobs, inserts, n_parts, epoch)))

    # cuckoo: per-item insert/probe cost on this epoch's hashes, one table
    # per filter partition at the engine's per-partition sizing
    new_h = inserts.toPandas()["url_hash"].to_numpy(dtype=np.int64)
    cand_h = cands.select("url_hash").toPandas()["url_hash"].to_numpy(dtype=np.int64)
    nb = cuckoo.round_down_pow2(seenmod.DEFAULT_NBITS // (cuckoo.FP_BITS * cuckoo.SLOTS))
    t_ins = t_probe = 0.0
    with tr.span("cuckoo.insert_probe", epoch=epoch):
        for p in range(n_parts):
            table, stash = cuckoo.new_table(nb), np.zeros(0, dtype=np.int64)
            t0 = time.perf_counter()
            stash = cuckoo.insert_many(table, stash, new_h[new_h % n_parts == p])
            t1 = time.perf_counter()
            cuckoo.probe_many(table, stash, cand_h[cand_h % n_parts == p])
            t_ins += t1 - t0
            t_probe += time.perf_counter() - t1
    out["cuckoo.insert_us"] = t_ins / len(new_h) * 1e6 if len(new_h) else 0.0
    out["cuckoo.probe_us"] = t_probe / len(cand_h) * 1e6 if len(cand_h) else 0.0

    for df in cached:
        df.unpersist()
    return out


def phase_values(phases: dict) -> dict:
    out = {
        "crawl.phase.gate_build_s": phases.get("gate_build", 0.0),
        "crawl.phase.fetch_write_s": phases.get("fetch_write", 0.0),
        "crawl.phase.overlap_s": phases.get("overlap_stats_writes", 0.0),
        "crawl.phase.commit_s": phases.get("commit", 0.0),
    }
    futures = phases.get("futures", {})
    for name in CRAWL_FUTURES:
        out[f"crawl.future.{name}_s"] = futures.get(name, (0.0, 0.0))[1]
    return out


# --------------------------------------------------------------------- run
def engine_for(ctx, size: Size, name: str):
    from engine.crawl import CrawlEngine

    return CrawlEngine(
        ctx.spark,
        os.path.join(ctx.work, name),
        graph_config(size, ctx.seed),
        n_buckets=size.n_buckets,
        n_filter_parts=size.n_filter_parts,
        salt=size.salt,
        bench_budget=size.budget,
    )


def run(ctx):
    from perfbench.context import Outcome
    from perfbench.spans import captured_phase_profile

    size = SIZES[ctx.size]
    tr = ctx.tracer
    outcome = Outcome()
    n_measured = max(2, round(ctx.seconds / EPOCH_NOMINAL_S))
    epoch_metrics: list[dict] = []
    walls, per_epoch_layers, windows = [], [], []
    try:
        eng = engine_for(ctx, size, "catalog")
        with tr.span("crawl.init_run"):
            t0 = time.perf_counter()
            eng.init_run(seed_urls(size))
            outcome.layers["crawl.init_run_s"] = time.perf_counter() - t0
        # warm-up: the crawl's own first epoch, so JIT, Python workers and
        # first-use costs are paid at the measured epochs' size
        with tr.span("crawl.warmup_epoch", epoch=1):
            epoch_metrics.append(eng.run_epoch(1))
        outcome.setup_s = time.perf_counter() - ctx.t_start
        cpu0 = tree_cpu()
        for epoch in range(2, n_measured + 2):
            phases: list = []
            c0, w0 = tree_cpu(), time.time()
            with tr.span("crawl.epoch", epoch=epoch):
                t0 = time.perf_counter()
                if ctx.trace:
                    with captured_phase_profile(phases):
                        m = eng.run_epoch(epoch)
                else:
                    m = eng.run_epoch(epoch)
                walls.append(time.perf_counter() - t0)
            epoch_metrics.append(m)
            if ctx.trace:
                windows.append((w0, time.time()))
                layers = {f"proc.{r}_cpu_s": v for r, v in cpu_delta(c0, tree_cpu()).items()}
                layers.update(phase_values(phases[-1] if phases else {}))
                layers["frontier.popped_rows"] = m["urls_popped"]
                with tr.span("replay", epoch=epoch):
                    layers.update(replay_layers(ctx, eng, epoch, size, m))
                per_epoch_layers.append(layers)
        outcome.raw["cpu_by_role_s"] = cpu_delta(cpu0, tree_cpu())
        outcome.cpu_s = sum(outcome.raw["cpu_by_role_s"].values())
    except Exception:  # noqa: BLE001 - a failed epoch is a benchmark result
        traceback.print_exc()
        outcome.attempted = len(epoch_metrics) + 1
        outcome.failed = 1
        outcome.errors.append("crawl raised; see traceback on stderr")
        return outcome

    outcome.attempted = len(epoch_metrics)
    with tr.span("check"):
        outcome.failed, outcome.errors = check(ctx, eng.catalog, size, epoch_metrics)
    popped = sum(m["urls_popped"] for m in epoch_metrics[1:])
    outcome.e2e.update(
        throughput_per_s=popped / sum(walls),
        step_s_p50=median(walls),
    )
    outcome.layers.update(median_of_dicts(per_epoch_layers))
    outcome.layers["trace.step_s_p50"] = median(walls) if ctx.trace else 0.0
    outcome.windows = windows
    outcome.raw.update(
        size=ctx.size,
        epoch_walls_s=walls,
        epoch_metrics=epoch_metrics,
        urls_per_sec=popped / sum(walls),
        epoch_s_p50=median(walls),
        epoch_s_max=max(walls),
        measured_epochs=len(walls),
    )
    return outcome
