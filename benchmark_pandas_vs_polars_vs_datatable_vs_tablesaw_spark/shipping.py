"""Ship this package to Spark's Python workers.

Functions passed to ``mapInPandas``/``pandas_udf`` are cloudpickled;
any module-level helper they reference (e.g. the multimodal decode
stub) is pickled *by reference* and re-imported inside the worker
process. Workers inherit neither the driver's cwd nor its sys.path
mutations, so unless the driver happens to run from the repo root the
import fails with ModuleNotFoundError. The portable fix — identical in
local mode and on a 1000-executor cluster — is ``sc.addPyFile`` with a
zip of the package: Spark distributes the archive to every executor
and prepends it to each worker's sys.path.

``prepare_worker()`` is the worker-side half. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task; before
CPython 3.13 that makes every ``zipimporter`` on the worker re-read its
archive's whole central directory (pyspark.zip, py4j, this package's
zip and the spark-core jar: 21 importers and 0.12 s per task on a
warm worker of a 4-core host).
The first statement of every Python UDF body in the package calls it;
once per worker process it installs a guard that skips an importer's
re-read while its archive's ``(st_size, st_mtime_ns)`` matches the one
seen at that importer's last read -- the file-identity rule
``catalog`` uses for parquet schemas. A changed or new archive (an
``addPyFile`` of another zip) is still re-read, and an archive that
cannot be stat'ed falls through to the re-read.
"""

from __future__ import annotations

import os
import sys
import tempfile
import weakref
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED_CONTEXTS: set[int] = set()
# zipimporter -> its archive's (st_size, st_mtime_ns) at its last read,
# None when the archive could not be stat'ed
_READ_IDENTITY: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_WORKER_PREPARED = False


def package_zip_path() -> str:
    """Build (once per process) a zip of this package next to tempdir."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in sorted(files):
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    return zip_path


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Idempotently distribute the package to this context's workers."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(package_zip_path())
    _SHIPPED_CONTEXTS.add(key)


def _archive_identity(importer: zipimport.zipimporter) -> tuple[int, int] | None:
    try:
        st = os.stat(importer.archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def prepare_worker() -> None:
    """Install the zip-directory re-read guard, once per process.

    Call it first in a Python UDF body. Every importer present now was
    re-read by the ``invalidate_caches()`` at this task's start, so its
    archive's current identity is the one of its last read. Later
    importers get theirs at their first guarded call."""
    global _WORKER_PREPARED
    if _WORKER_PREPARED:
        return
    _WORKER_PREPARED = True
    if sys.version_info >= (3, 13):  # invalidate_caches no longer re-reads
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        ident = _archive_identity(self)
        if ident is None or _READ_IDENTITY.get(self) != ident:
            reread(self)
            _READ_IDENTITY[self] = ident

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            _READ_IDENTITY[importer] = _archive_identity(importer)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
