"""importlib.invalidate_caches() re-reads no zip archive once the
package is imported, in the driver and in Spark's Python workers.

A PySpark worker calls it at the start of every task; before Python
3.13 each zipimporter on sys.path then re-reads its archive directory
(pyspark.zip, py4j, the spark-core jar): 0.15-0.45 s per task on a
4-vCPU host.  Each check builds its own zip, so it does not depend on
how SPARK_HOME is laid out."""

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import cloudpickle

from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules

# Spark's Python workers cannot import this test module, so its
# functions travel by value; the rules module still travels by name.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _zip_reads_on_invalidate(directory: str) -> int:
    """Imports a module from a fresh zip under ``directory``, then
    returns how many archive directories importlib.invalidate_caches()
    reads."""
    archive = os.path.join(directory, "probe_mod.zip")
    name = "zip_probe_mod"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 1\n")
    sys.path.insert(0, archive)
    read_directory = zipimport._read_directory
    calls = []

    def counting(path):
        calls.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module(name).VALUE == 1
        zipimport._read_directory = counting
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop(name, None)
    return len(calls)


def test_driver_invalidate_reads_no_archive(tmp_path):
    assert _zip_reads_on_invalidate(str(tmp_path)) == 0


def test_worker_invalidate_reads_no_archive(spark):
    # The reference to rules makes the worker import the package when
    # it loads the function, as it does for every UDF of this package.
    def probe(_):
        assert rules.norm_words("A b") == ["a", "b"]
        with tempfile.TemporaryDirectory() as d:
            yield _zip_reads_on_invalidate(d)

    rdd = spark.sparkContext.parallelize(range(4), 4)
    # the second run's tasks go to workers the first run left idle
    for _ in range(2):
        assert rdd.mapPartitions(probe).collect() == [0, 0, 0, 0]
