"""The engine's Python workers fork from the package daemon, whose guarded
``zipimporter.invalidate_caches`` keeps pyspark's per-task import-cache
reset from re-reading ``pyspark.zip``."""

import zipfile
import zipimport

from graphdbetl_spark import daemon


def _run_in_worker(spark, kernel, schema):
    return spark.range(1, numPartitions=1).mapInArrow(kernel, schema).collect()


def test_fixture_session_python_tasks_run_under_package_daemon(spark):
    def main_module(batches):
        import sys

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"m": [sys.modules["__main__"].__spec__.name]})

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "graphdbetl_spark.daemon"
    )
    [row] = _run_in_worker(spark, main_module, "m string")
    assert row.m == "graphdbetl_spark.daemon"


def test_invalidate_caches_in_a_kernel_keeps_pyspark_zip_directories(spark):
    def reset_imports(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        zips = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and imp.archive.endswith("pyspark.zip")
        ]
        before = [imp._files for imp in zips]
        importlib.invalidate_caches()
        kept = [imp._files is files for imp, files in zip(zips, before)]
        yield pa.RecordBatch.from_pydict({"n": [len(zips)], "kept": [all(kept)]})

    # Twice: the second task may land on a reused worker.
    for _ in range(2):
        [row] = _run_in_worker(spark, reset_imports, "n long, kept boolean")
        assert row.n > 0
        assert row.kept


def test_guarded_invalidate_rereads_only_a_changed_archive(tmp_path):
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "x = 1\n")
    first, second = zipimport.zipimporter(str(path)), zipimport.zipimporter(str(path))

    daemon.invalidate_caches(first)
    read = first._files
    daemon.invalidate_caches(first)
    daemon.invalidate_caches(second)
    assert first._files is read and second._files is read

    with zipfile.ZipFile(path, "a") as z:  # rewritten in place, same inode
        z.writestr("b.py", "y = 2\n")
    daemon.invalidate_caches(second)
    assert second._files is not read and "b.py" in second._files
    daemon.invalidate_caches(first)
    assert first._files is second._files
    # The driver's zipimport is left as it is.
    assert zipimport.zipimporter.invalidate_caches is not daemon.invalidate_caches
