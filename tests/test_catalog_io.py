"""Catalog I/O cost: explicit read schemas match the staged files, a
manifest read lists its leaf dirs without a Spark job, and the in-process
chmod shim (engine/NioLocalFileSystem.java) writes the same modes and
``.crc`` files as Hadoop's stock local filesystem."""

from __future__ import annotations

import glob
import os
import stat

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from engine.catalog import SnapshotCatalog
from engine.crawl import CrawlEngine
from engine.schemas import CRAWL_LOG, FRONTIER, SEEN_FILTER
from engine.session import SHIM_CLASS
from engine.synthgraph import GraphConfig, gen_seed_urls

SMALL = GraphConfig(n_hosts=8, max_pages=20, max_depth=2)


def _names_types(schema: pa.Schema) -> list[tuple[str, pa.DataType]]:
    return [(f.name, f.type) for f in schema]


def test_explicit_read_schemas_match_staged_files(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path), SMALL, n_filter_parts=4)
    eng.run(1, seeds=gen_seed_urls(SMALL))
    m = eng.catalog.manifest(1)
    staged = {
        "seen_filter": (SEEN_FILTER, [m["snapshots"]["seen_filter"]["path"]]),
        "crawl_log": (CRAWL_LOG, [m["appends"]["crawl_log"]["path"]]),
        "frontier": (
            FRONTIER,
            [d for dirs in m["snapshots"]["frontier"]["parts"].values() for d in dirs],
        ),
    }
    for table, (declared, dirs) in staged.items():
        files = [f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet"))]
        assert files, table
        want = _names_types(to_arrow_schema(declared))
        for f in files:
            assert _names_types(pq.read_schema(f)) == want, (table, f)


def _tiny_dirs(root, n: int) -> list[str]:
    table = pa.Table.from_pylist([{"url_hash": 1}], schema=pa.schema([("url_hash", pa.int64())]))
    dirs = []
    for i in range(n):
        d = root / f"d{i}"
        d.mkdir(parents=True)
        pq.write_table(table, d / "part-0.parquet")
        dirs.append(str(d))
    return dirs


def _jobs_of_read(spark, cat: SnapshotCatalog, parts: dict, group: str) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, "manifest read")
    try:
        cat.read_parts(parts, schema=FRONTIER)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_manifest_read_of_many_dirs_runs_no_spark_job(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    dirs = _tiny_dirs(tmp_path / "driver", 40)
    parts = {"done/0": dirs[:20], "failed/0": dirs[20:]}
    assert _jobs_of_read(spark, cat, parts, "listing-driver") == []

    # Control: at Spark's default threshold (32 paths) the same read of 40
    # fresh dirs launches a distributed listing job, so the probe can fail.
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        dirs = _tiny_dirs(tmp_path / "job", 40)
        parts = {"done/0": dirs[:20], "failed/0": dirs[20:]}
        assert _jobs_of_read(spark, cat, parts, "listing-job") != []
    finally:
        spark.conf.set(key, old)


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_shim_installed_and_faithful(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == SHIM_CLASS
    shim = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert shim.getClass().getName() == SHIM_CLASS

    out = str(tmp_path / "written")
    CrawlEngine._write(spark.range(100).selectExpr("id", "id % 3 AS k"), out, ["k"])
    parts = []
    for dirpath, dirnames, filenames in os.walk(out):
        assert _mode(dirpath) == 0o755, dirpath
        for name in filenames:
            assert _mode(os.path.join(dirpath, name)) == 0o644, name
            if name.startswith("part-"):
                parts.append((dirpath, name))
                assert f".{name}.crc" in filenames, name
    assert len(parts) >= 3

    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    for fs, side in ((shim, "shim"), (stock, "stock")):
        for mode in ("640", "750", "1777"):
            for kind in ("file", "dir"):
                p = tmp_path / side / f"{kind}-{mode}"
                p.parent.mkdir(exist_ok=True)
                p.mkdir() if kind == "dir" else p.write_text("x")
                fs.setPermission(
                    jvm.org.apache.hadoop.fs.Path(str(p)),
                    jvm.org.apache.hadoop.fs.permission.FsPermission(mode),
                )
    for mode in ("640", "750", "1777"):
        for kind in ("file", "dir"):
            got = _mode(str(tmp_path / "shim" / f"{kind}-{mode}"))
            assert got == int(mode, 8), (kind, mode, oct(got))
            assert got == _mode(str(tmp_path / "stock" / f"{kind}-{mode}")), (kind, mode)
