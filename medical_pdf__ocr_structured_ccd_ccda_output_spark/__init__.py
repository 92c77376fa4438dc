import sys

if sys.version_info < (3, 13):
    import zipimport

    def _keep_zip_directory(self) -> None:
        """``zipimporter.invalidate_caches`` that keeps the archive
        directory it already read."""

    # A PySpark worker calls importlib.invalidate_caches() at the start
    # of every task (pyspark.worker_util.setup_spark_files).  Before
    # 3.13 that makes every zipimporter on sys.path re-read its whole
    # archive directory in pure Python (CPython gh-103200): pyspark.zip
    # once per pyspark sub-package loaded from it, the py4j zip and the
    # spark-core jar, 0.15-0.45 s per task on a 4-vCPU host.  Keeping
    # the directory is right as long as the archives on a worker's path
    # are not rewritten while the worker lives; an archive added to
    # sys.path later gets a new importer, which reads it.  A worker
    # imports this package when it loads a pickled function of it, so
    # only its first task pays.
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
