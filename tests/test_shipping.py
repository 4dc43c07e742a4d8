"""Stat-validated zip directories (shipping.validate_zip_directories).

PySpark calls importlib.invalidate_caches() before every Python task; on
CPython < 3.13 each zipimporter then re-reads its archive's central
directory. The replacement re-reads only an archive whose (mtime, size)
stamp changed. CPython >= 3.13 only drops the cached directory, so the
patch (and these tests) do not apply there.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from e2e_etl_pipeline_spark import shipping

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 no longer re-reads zip directories"
)


@pytest.fixture
def validated(monkeypatch):
    """Install the validated method for the test, count directory reads."""
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", shipping._validated_invalidate_caches
    )
    return reads


def _write_zip(path: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipmod_probe.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, validated):
    archive = str(tmp_path / "m.zip")
    _write_zip(archive, "X = 1\n")
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first call: no stamp yet, so it reads
    before = len(validated)
    for _ in range(5):
        imp.invalidate_caches()
    assert before > 0 and len(validated) == before


def test_rewritten_archive_is_reread_and_imports_new_source(tmp_path, validated):
    archive = str(tmp_path / "m.zip")
    _write_zip(archive, "X = 1\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zipmod_probe").X == 1
        importlib.invalidate_caches()
        reads = validated.count(archive)
        # Longer source: the size differs even where mtime resolution is
        # coarse.
        _write_zip(archive, "X = 22  # rewritten\n")
        importlib.invalidate_caches()
        assert validated.count(archive) == reads + 1
        del sys.modules["zipmod_probe"]
        assert importlib.import_module("zipmod_probe").X == 22
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zipmod_probe", None)


def test_worker_that_ran_engine_code_is_patched_driver_is_not(spark):
    from e2e_etl_pipeline_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)

    def report(batches):
        # Nested, so pickled by value: the engine package is imported here
        # in the worker, as unpickling any engine kernel imports it.
        import os
        import zipimport

        import pandas as pd

        from e2e_etl_pipeline_spark import shipping

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "validated": [
                    zipimport.zipimporter.invalidate_caches
                    is shipping._validated_invalidate_caches
                ],
            }
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "pid long, validated boolean")
        .collect()
    )
    assert [r.validated for r in rows] == [True]
    assert rows[0].pid != os.getpid()
    # The driver imported the package too, outside any task: unpatched.
    shipping.validate_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is shipping._reread_directory
