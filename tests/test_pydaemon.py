"""The engine's Python worker daemon (`supabase_etl_spark/pydaemon.py`).

Every Python task calls `importlib.invalidate_caches()` in
`pyspark.worker_util.setup_spark_files`. On interpreters whose
`zipimporter.invalidate_caches` re-reads eagerly, that re-read the whole
directory of `pyspark.zip` and the spark-core jar once per cached importer
(16 reads per task). The daemon re-reads an archive only when its
`(st_mtime_ns, st_size)` changed; these tests pin both halves of that rule,
the count inside a real task, and the package's importability in workers
started from a foreign working directory.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from supabase_etl_spark import pydaemon
from supabase_etl_spark.session import PACKAGE_ROOT


@pytest.fixture()
def wrapped(monkeypatch):
    """Install the wrap for one test; monkeypatch restores the original."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()


@pytest.fixture()
def read_spy(monkeypatch):
    """Archive paths passed to `zipimport._read_directory`, in call order."""
    calls = []
    read = zipimport._read_directory

    def spy(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimport re-reads lazily; nothing is wrapped",
)
def test_unchanged_archive_is_not_reread(tmp_path, wrapped, read_spy):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pd_mod_a": 1})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # records the stamp
    read_spy.clear()
    importer.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()  # a second importer shares it
    assert read_spy == [], "an unchanged archive was read again"
    assert importer.find_spec("pd_mod_a") is not None


def test_rewritten_archive_is_reread_and_new_module_imports(
    tmp_path, monkeypatch, wrapped, read_spy
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pd_mod_b": 1})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pd_mod_b", raising=False)
    monkeypatch.delitem(sys.modules, "pd_mod_c", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("pd_mod_b").VALUE == 1
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pd_mod_c")

    _write_zip(archive, {"pd_mod_b": 1, "pd_mod_c": 2})
    before = len(read_spy)
    importlib.invalidate_caches()
    assert read_spy[before:].count(archive) == 1
    assert importlib.import_module("pd_mod_c").VALUE == 2


def test_python_task_does_not_reread_archives(spark):
    """Under `pyspark.daemon` each task read the archives 16 times."""

    def count_reads(_):
        n = [0]
        read = zipimport._read_directory

        def spy(archive):
            n[0] += 1
            return read(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield n[0]

    assert spark.sparkContext.parallelize([0, 1], 2).mapPartitions(count_reads).collect() == [0, 0]


_FOREIGN_DRIVER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from supabase_etl_spark.operators import multimodal as M
    from supabase_etl_spark.session import get_spark

    spark = get_spark("foreign-cwd", master="local[1]", shuffle_partitions=1)
    print("LAMBDA", spark.sparkContext.parallelize([1, 2], 1).map(lambda x: x * 10).collect())
    print("UDF", M.generate_videos(spark.range(2).withColumnRenamed("id", "doc_id")).count())
    spark.stop()
    """
)


def test_workers_import_the_package_from_a_foreign_cwd(tmp_path):
    """Workers find the package (and so the daemon) without PYTHONPATH,
    from a working directory outside the checkout."""
    script = tmp_path / "driver.py"
    script.write_text(_FOREIGN_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), PACKAGE_ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "LAMBDA [10, 20]" in proc.stdout
    assert "UDF 2" in proc.stdout
