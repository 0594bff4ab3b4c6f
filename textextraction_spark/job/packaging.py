"""The package on executor Python workers: shipping it, and what importing
it there costs per task.

Shipping (the ``spark-submit --py-files`` contract).  On a real cluster the
job is submitted as ``spark-submit --py-files textextraction_spark.zip
job.py`` (north_star); ``python textextraction_spark/job/packaging.py``
builds that zip and prints its path.  When the engine is used as a library
(driver imports us directly — tests, the harness entry, notebooks),
executors' Python workers still need the package on their path;
``ensure_shipped`` builds the zip once per session and registers it via
``SparkContext.addPyFile`` — the programmatic equivalent of ``--py-files``.
Each build writes a temp file and renames it over the old one, so a reader
never sees a half-written zip and every build gets a new inode.

The gazetteer resource files are included; ``core/gazetteer.py`` falls back
to its generator functions when ``Path(__file__)`` points inside a zip, and
the generators produce byte-identical lists, so behavior is unchanged.

The worker zip guard.  On every task, pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
which calls ``invalidate_caches`` on every cached path finder.  Before
Python 3.13 a ``zipimporter`` answers by re-reading its archive's whole
central directory, and a reused worker holds about 16 of them: 13 on
``pyspark.zip`` (1,328 entries), 2 on the spark-core jar that
``SparkContext.jarOfObject`` puts on the worker path (5,359 entries) and one
on py4j — ≈190 ms of CPU per task, whatever the task's size.  3.13 made the
call lazy.  ``install_zip_guard`` gives older workers the same effect plus
the mtime check ``FileFinder`` does for directories: an importer re-reads
its archive only when the archive's ``(mtime_ns, size, inode)`` differs
from that importer's last read, or when the stat fails.  The signature is
kept per importer, since each importer holds its own listing.  Importing
the package inside a worker installs it (``textextraction_spark/__init__``),
so a worker pays the tax once, not once per task.  Every archive stays
refreshable: a changed file changes its stat signature.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

_SHIPPED_APPS: set[str] = set()


def build_zip() -> str:
    """Zip the package (py + resources) deterministically; returns path."""
    pkg_root = Path(__file__).resolve().parent.parent  # .../textextraction_spark
    zip_path = Path(tempfile.gettempdir()) / "textextraction_spark_pyfiles.zip"
    fd, tmp = tempfile.mkstemp(dir=zip_path.parent, prefix=f".{zip_path.name}.")
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as zf:
            for p in sorted(pkg_root.rglob("*")):
                if p.suffix in (".py", ".txt", ".md") and "__pycache__" not in p.parts:
                    zf.write(p, arcname=str(p.relative_to(pkg_root.parent)))
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return str(zip_path)


def ensure_shipped(spark) -> None:
    """Idempotent per SparkSession: make the package importable on every
    executor Python worker."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        return
    sc.addPyFile(build_zip())
    _SHIPPED_APPS.add(app_id)


def _archive_signature(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install_zip_guard() -> None:
    """Idempotent: make ``zipimporter.invalidate_caches`` re-read an archive
    only when it changed on disk since this importer last read it.

    Importers that exist now are stamped with their archive's current
    signature.  Inside a worker that is sound: the package is imported by a
    task, after that task's ``setup_spark_files`` re-read every one of them.
    """
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_checked", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # stat before the read: a change racing the read is seen next call
        signature = _archive_signature(self.archive)
        if signature is None or signature != getattr(self, "_archive_signature", None):
            reread(self)
            self._archive_signature = signature

    invalidate_caches.stat_checked = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._archive_signature = _archive_signature(finder.archive)
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    print(build_zip())
