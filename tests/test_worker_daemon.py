"""The worker daemon's backport of CPython 3.12's lazy zipimport
invalidation. The patch is process-global, so each check runs in its own
interpreter, never in pytest's."""

import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Builds a zip whose imported subpackages give several zipimporters on one
# archive (made before the patch, as in the daemon), then counts the
# directory reads that invalidations and imports make.
_PRELUDE = """
import importlib, os, sys, zipfile, zipimport
from ocr_compare_spark.worker_daemon import backport_lazy_zip_invalidation

ARCHIVE = sys.argv[1]
MODULES = {"pkg/__init__.py": ""}
for sub in "abc":
    MODULES[f"pkg/{sub}/__init__.py"] = ""
    MODULES[f"pkg/{sub}/mod.py"] = f"NAME = {sub!r}"
MODULES["pkg/a/later.py"] = "NAME = 'later'"


def write(extra={}):
    with zipfile.ZipFile(ARCHIVE, "w") as z:
        for name, src in {**MODULES, **extra}.items():
            z.writestr(name, src)


write()
sys.path.insert(0, ARCHIVE)
import pkg.a.mod, pkg.b.mod, pkg.c.mod
IMPORTERS = [
    f for f in sys.path_importer_cache.values()
    if isinstance(f, zipimport.zipimporter) and f.archive == ARCHIVE
]
assert len(IMPORTERS) >= 4, IMPORTERS
backport_lazy_zip_invalidation()
READS = []
_read = zipimport._read_directory
zipimport._read_directory = lambda archive: READS.append(archive) or _read(archive)
"""


def _run(tmp_path, body):
    script = _PRELUDE + textwrap.dedent(body)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "pkgs.zip")],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_invalidate_reads_nothing_and_next_import_reads_once(tmp_path):
    _run(tmp_path, """
        importlib.invalidate_caches()
        assert READS == [], READS
        import pkg.a.later
        assert pkg.a.later.NAME == "later"
        assert READS == [ARCHIVE], READS
        import pkg.b.mod, pkg.c.mod
        assert READS == [ARCHIVE], READS
    """)


def test_module_added_in_place_imports_after_invalidate(tmp_path):
    _run(tmp_path, """
        write({"pkg/b/added.py": "NAME = 'added'"})
        importlib.invalidate_caches()
        import pkg.b.added
        assert pkg.b.added.NAME == "added"
    """)


def test_deleted_archive_fails_cleanly_then_imports_when_recreated(tmp_path):
    _run(tmp_path, """
        os.remove(ARCHIVE)
        importlib.invalidate_caches()
        try:
            import pkg.c.back
        except ModuleNotFoundError:
            pass
        else:
            raise AssertionError("imported from a deleted archive")
        write({"pkg/c/back.py": "NAME = 'back'"})
        importlib.invalidate_caches()
        import pkg.c.back
        assert pkg.c.back.NAME == "back"
    """)


def test_python_312_keeps_zipimport_untouched():
    script = """
        import sys, zipimport
        from ocr_compare_spark.worker_daemon import backport_lazy_zip_invalidation

        before = dict(vars(zipimport.zipimporter))
        if sys.version_info < (3, 12):
            sys.version_info = (3, 12, 0, "final", 0)
        backport_lazy_zip_invalidation()
        assert dict(vars(zipimport.zipimporter)) == before
    """
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_spark_workers_run_under_the_library_daemon(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("argv0 string, reads int")
    def probe(ids: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.DataFrame({"argv0": [sys.argv[0]] * len(ids), "reads": [len(reads)] * len(ids)})

    row = spark.range(1, numPartitions=1).select(probe("id").alias("p")).collect()[0].p
    assert row.argv0 == str(ROOT / "ocr_compare_spark" / "worker_daemon.py")
    assert row.reads == 0
