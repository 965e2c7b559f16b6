"""SparkSession builder with the engine's scale-tuned defaults.

Configs follow SURVEY.md §4: AQE on (O4/O7), runtime bloom-filter join
pruning (O8), Arrow everywhere (O10), explicit shuffle-partition sizing
(O12).  On a real cluster the same builder is used by
``spark-submit --py-files engine.zip run_crawl.py`` (BASELINE.json:14) —
only ``master`` and executor counts change.

Two settings make catalog I/O cost what its bytes cost:

* ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is raised
  from 32 to :data:`LISTING_THRESHOLD`.  The manifest already names every
  leaf dir an epoch reads; above 32 paths Spark would list them with a
  one-task-per-path Spark job (four per epoch, 250–750 tasks), below the
  threshold the driver lists them itself.  It is a runtime SQL conf, so it
  applies on every launch path, ``spark-submit`` included.
* ``spark.hadoop.fs.file.impl`` names ``engine/NioLocalFileSystem.java``:
  Hadoop's checksummed ``LocalFileSystem`` (``.crc`` files and read-side
  integrity check kept) whose raw filesystem sets permissions in-process
  with NIO.  Without libhadoop the stock class forks a ``chmod`` process
  for every file and dir it creates (≈700 per crawl epoch).  The shim is
  compiled with the JDK's ``javac`` into a gitignored jar named by source
  hash and put on ``spark.driver.extraClassPath``, so it is installed only
  when this builder itself launches a ``local[...]`` JVM: no live gateway
  and ``PYSPARK_GATEWAY_PORT`` unset.  Under ``spark-submit`` the JVM and
  its classpath already exist and the stock filesystem stays; without
  ``javac`` (or on a failed compile) one warning goes to stderr and the
  stock filesystem stays too.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHIM_SRC = os.path.join(REPO_ROOT, "engine", "NioLocalFileSystem.java")
SHIM_CLASS = "spider.hadoop.NioLocalFileSystem"
SHIM_DIR = os.path.join(REPO_ROOT, ".jvm_shim")
# Above the catalog's own bound on the dirs one read names: n_buckets ×
# 4 statuses × max_cell_dirs = 64 × 4 × 16 = 4096 at the CrawlEngine defaults.
LISTING_THRESHOLD = 8192


def _shim_jar() -> str | None:
    """The compiled shim jar, built on first use; None after one stderr
    warning when it cannot be built."""
    try:
        with open(SHIM_SRC, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        jar = os.path.join(SHIM_DIR, f"nio-localfs-{digest}.jar")
        if os.path.exists(jar):
            return jar
        java_home = os.environ.get("JAVA_HOME")
        javac = (
            java_home and shutil.which("javac", path=os.path.join(java_home, "bin"))
        ) or shutil.which("javac")
        api = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
        if not javac or not api:
            raise OSError("javac or hadoop-client-api jar not found")
        os.makedirs(SHIM_DIR, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SHIM_DIR) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", api[0], "-d", classes, SHIM_SRC],
                check=True,
                capture_output=True,
                text=True,
            )
            part = os.path.join(tmp, "shim.jar")
            with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as zf:
                for dirpath, _, names in os.walk(classes):
                    for name in names:
                        path = os.path.join(dirpath, name)
                        zf.write(path, os.path.relpath(path, classes))
            os.replace(part, jar)
        return jar
    except (OSError, subprocess.CalledProcessError) as e:
        detail = (getattr(e, "stderr", None) or str(e)).strip().split("\n")[0]
        print(
            f"build_session: in-process chmod shim unavailable ({detail}); "
            "keeping Hadoop's stock local filesystem",
            file=sys.stderr,
        )
        return None


def build_session(
    app_name: str = "distributed-spider-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers must import the engine package (mapInPandas closures).
    pp = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{REPO_ROOT}:{pp}" if pp else REPO_ROOT

    cores = os.cpu_count() or 8
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # local[N] -> N; 2x cores keeps partitions CPU-bound without tiny-task
        # overhead at sandbox scale (SURVEY.md §4 O12: 2-4x cores per run).
        n = master.split("[")[-1].rstrip("]") if "[" in master else str(cores)
        shuffle_partitions = 2 * (cores if n == "*" else max(1, int(n)))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(LISTING_THRESHOLD))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    launches_local_jvm = (
        SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        and (master == "local" or master.startswith("local["))
    )
    jar = _shim_jar() if launches_local_jvm else None
    if jar:
        b = b.config("spark.driver.extraClassPath", jar).config(
            "spark.hadoop.fs.file.impl", SHIM_CLASS
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
