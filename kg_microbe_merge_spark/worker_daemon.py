"""``pyspark.daemon`` with the zip-cache patch installed before it forks.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for local masters, so Spark starts the Python-worker daemon as
``python -m kg_microbe_merge_spark.worker_daemon pyspark.worker``.
Running it imports the package first, which installs
``workerenv.patch_zipimporter_invalidate_caches``; one
``importlib.invalidate_caches()`` then stamps the importers the daemon
holds (``pyspark.zip`` among them), and every worker forked afterwards
inherits both, so no task re-reads an unchanged zip's directory (see
``workerenv``). Importing the module does nothing.
"""

if __name__ == "__main__":
    import importlib

    import kg_microbe_merge_spark  # noqa: F401 - installs the zipimporter patch
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
