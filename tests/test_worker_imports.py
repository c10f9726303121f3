"""The package's Spark-worker import shim (``_static_zip_importers``).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task; on
Python < 3.13 that re-reads every cached zip archive's directory.  Inside a
task that has imported the package the call must read no zip directory,
the driver's importers must stay the stdlib ones, and an archive shipped
after the workers are up must still be importable.
"""

import sys
import uuid
import zipfile
import zipimport


def test_invalidate_caches_reads_no_zip_directory_in_a_task(spark):
    def probe(_):
        import importlib
        import zipimport

        import web_content_extraction_benchmark_spark  # noqa: F401

        real = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        cached_zips = sum(isinstance(f, zipimport.zipimporter)
                          for f in sys.path_importer_cache.values())
        yield len(calls), cached_zips

    results = spark.sparkContext.parallelize(range(4), 4) \
        .mapPartitions(probe).collect()
    assert len(results) == 4
    # the workers do hold zip importers (pyspark.zip, py4j, ...), so zero
    # directory reads means the per-task re-read is gone, not that there
    # was nothing to re-read
    assert all(zips > 0 for _, zips in results)
    assert [calls for calls, _ in results] == [0, 0, 0, 0]


def test_driver_keeps_stdlib_zip_invalidation(spark):
    import web_content_extraction_benchmark_spark  # noqa: F401

    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport"
    assert method.__qualname__ == "zipimporter.invalidate_caches"


def test_archive_added_after_workers_start_is_importable(spark, tmp_path):
    sc = spark.sparkContext

    def shim_state(_):
        import zipimport

        import web_content_extraction_benchmark_spark  # noqa: F401

        yield zipimport.zipimporter.invalidate_caches.__module__

    # workers are up and have imported the package before the zip exists
    sc.parallelize(range(4), 4).mapPartitions(shim_state).collect()

    module = f"wceb_late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def load(_):
        import importlib
        import zipimport

        yield (importlib.import_module(module).VALUE,
               zipimport.zipimporter.invalidate_caches.__module__)

    results = sc.parallelize(range(4), 4).mapPartitions(load).collect()
    assert [value for value, _ in results] == [42] * 4
    if sys.version_info < (3, 13):
        # the shim was active in the tasks that found the new archive
        assert all(owner != "zipimport" for _, owner in results)
