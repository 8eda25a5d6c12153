"""SparkSession factory with the engine's scale-hygiene defaults.

Defaults chosen for the dedup workload: AQE on (runtime coalescing +
skew-join splitting for hot LSH bands), Arrow enabled for pandas UDFs with a
batch size large enough to amortize kernel setup, shuffle partitions sized by
the caller (cluster: ~2-3x total cores; local tests: small).

The worker side has one default too, ``freeze_worker_zip_imports``. Before
every task, pyspark's worker calls ``importlib.invalidate_caches()`` so that
zips shipped with ``addPyFile`` since the last task become importable. On
Python 3.11 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory: Spark puts ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar (15 MB, 5k entries) on every worker's path,
and a worker holds about 16 importers over them (one per archive root and
one per imported pyspark subpackage). Timed inside a worker on a 4-core
host, that call took about 0.2 s per task, paid before the task reads its
first batch. Those archives
cannot change while a worker lives, so ``rensa_spark/__init__.py`` swaps
their importers for ones whose ``invalidate_caches`` does nothing, once per
worker process, when the package is first imported inside a task. Archives
under ``SparkFiles.getRootDirectory()`` (``addPyFile`` zips) keep the
re-read. On Python versions whose ``zipimporter.invalidate_caches`` does not
re-read the archive, or on hosts with no zip on the worker path, the freeze
changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import SparkFiles
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rensa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class _FrozenZipImporter(zipimport.zipimporter):
    """A zipimporter over an archive that cannot change while the process
    lives: ``importlib.invalidate_caches()`` leaves its directory as read."""

    def invalidate_caches(self):
        pass


def freeze_worker_zip_imports() -> None:
    """In a Spark Python worker, stop per-task re-reads of the zip archives
    on ``sys.path`` (see the module docstring). Importers created later, for
    subpackages imported after this call, are frozen too; archives under the
    SparkFiles root are left re-readable."""
    files_root = os.path.join(SparkFiles.getRootDirectory(), "")

    def zip_hook(path: str) -> zipimport.zipimporter:
        frozen = not path.startswith(files_root)
        return (_FrozenZipImporter if frozen else zipimport.zipimporter)(path)

    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[path] = zip_hook(path)
    sys.path_hooks[:] = [zip_hook if h is zipimport.zipimporter else h for h in sys.path_hooks]
