"""Ship this package to Spark's Python workers.

Module-level functions used inside UDFs / mapInPandas /
applyInPandasWithState are cloudpickled BY REFERENCE (module + qualname), so
every Python worker must be able to ``import e2e_etl_pipeline_spark``. The
driver process importing us proves nothing about workers: they inherit
PYTHONPATH from the JVM's environment, not the driver's ``sys.path``.

``ensure_package_shipped`` zips the package once per SparkContext and
``addPyFile``s it — the same mechanism that deploys the package to a
1000-executor cluster, exercised identically on local[N].

``validate_zip_directories`` makes the per-task import set-up cheap once a
worker has imported the package. Before every task PySpark calls
``importlib.invalidate_caches()`` (``setup_spark_files``), and on CPython
< 3.13 each ``zipimporter`` then eagerly re-reads its archive's central
directory — one importer per imported sub-package of pyspark.zip plus the
jars on the worker path, ~0.2 s per task measured, before any kernel runs.
The replacement re-reads an archive only when its (mtime, size) stamp has
changed, so a replaced or rewritten archive is still picked up. CPython
3.13 already only drops the cached directory and is left alone.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    # Key on applicationId, not id(sc): after spark.stop() a NEW context
    # can be allocated at the same CPython address, and an id()-keyed
    # cache would silently skip the addPyFile for it — workers would then
    # fail with ModuleNotFoundError on the first by-reference UDF.
    key = sc.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="e2e_pkg_ship_")
    zip_path = shutil.make_archive(
        os.path.join(staging, "e2e_etl_pipeline_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)


_reread_directory = zipimport.zipimporter.invalidate_caches


def _validated_invalidate_caches(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches that skips an unchanged archive.

    The stamp is taken BEFORE the re-read, so an archive rewritten while
    it is read still differs from the stored stamp next time."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_dir_stamp", None) == stamp:
        return
    _reread_directory(self)
    self._dir_stamp = stamp


def validate_zip_directories() -> None:
    """Install ``_validated_invalidate_caches`` in a Python worker process.

    Called from the package ``__init__``: kernels unpickle by reference, so
    the first engine task in each worker imports the package and installs
    it for every later task that worker runs. The driver (no TaskContext)
    and CPython >= 3.13 are left unpatched."""
    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _validated_invalidate_caches
