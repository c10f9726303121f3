"""PySpark-native web main-content extraction & evaluation engine.

A from-scratch, Spark-first re-expression of the query / data-processing
capabilities of chatnoir-eu/web-content-extraction-benchmark (SIGIR 2023
reproducibility study).  The reference is a single-machine multiprocessing
harness (see /root/reference/src/extraction_benchmark/extract.py:139-157);
this engine re-states every stage as DataFrame plans + Arrow-batched pandas
UDFs so Catalyst/Tungsten handle planning, shuffles, and codegen.

Layout
------
- ``dom``          lightweight stdlib-based HTML DOM (no lxml/bs4 in sandbox)
- ``encoding``     bytes -> str decode (BOM/meta sniff, gzip, fallbacks)
- ``textutils``    shared tokenizers / whitespace rules
- ``extractors``   from-scratch per-document extraction algorithms (pure fns)
- ``functions``    scoring kernels + pandas-UDF wrappers
- ``operators``    relational / dedup / similarity / text-analysis DataFrame ops
- ``sources``      pages-table synthesis, JSONL IO, snapshot log (resume)
- ``plans``        end-to-end pipelines (extract -> score -> aggregate), lineage
- ``streaming``    Structured Streaming surfaces (event rollups)
"""

import sys

__version__ = "0.1.0"

EXTRACTOR_VERSION = __version__


def _static_zip_importers() -> None:
    """Make zip importers ignore ``importlib.invalidate_caches()`` inside a
    Spark Python worker.

    PySpark's worker calls ``importlib.invalidate_caches()`` once per task.
    Before CPython 3.13 that makes every cached ``zipimporter`` re-read its
    archive's central directory: pyspark.zip, py4j and the spark-core jar
    are ~27k entries, about 0.25 s of CPU per task on a 4-core host, often
    more than the task's rows cost.  The no-op is safe there: the archives
    on a worker's path (pyspark.zip, py4j, the spark-core jar,
    ``--py-files`` zips) are install-time files that do not change under a
    running worker, and an archive added later gets a fresh importer, which
    reads its directory when it is created.  CPython 3.13 made the method
    lazy (it only drops the cache entry), so it is left alone there.  The
    driver is never touched: ``TaskContext`` is looked up through
    ``sys.modules`` (importing this package never imports pyspark), and
    it is None outside a task."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    import zipimport

    zipimport.zipimporter.invalidate_caches = lambda self: None


_static_zip_importers()
