"""Build engine.zip for the production invocation (BASELINE.json:14):

    python tools/package.py
    spark-submit --py-files engine.zip run_crawl.py --root ... --master spark://...

The zip carries engine/ + analytics/ + pyref/ so executor-side Python
workers (mapInPandas / applyInPandas closures) can import them on any
cluster node without a shared filesystem.

It needs no JVM part: the in-process chmod shim
(``engine/NioLocalFileSystem.java``) is only installed when
``build_session`` launches a ``local[...]`` JVM itself.  Under
``spark-submit`` the JVM and its classpath already exist, so a deploy from
this zip keeps Hadoop's stock local filesystem.
"""

from __future__ import annotations

import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGES = ("engine", "analytics", "pyref")


def build(out: Path | None = None) -> Path:
    out = out or REPO / "engine.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for pkg in PACKAGES:
            for py in sorted((REPO / pkg).glob("*.py")):
                zf.write(py, f"{pkg}/{py.name}")
    return out


if __name__ == "__main__":
    print(build())
