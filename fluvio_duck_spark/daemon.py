"""pyspark's Python worker daemon, minus the per-task zip directory re-read.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``; on Python 3.11 that makes
each zipimporter over ``pyspark.zip`` re-read the archive's directory,
0.12-0.14 s of CPU before the task's first row.  This daemon makes the
zipimporter's ``invalidate_caches`` a no-op and then runs pyspark's own
daemon, so every worker it forks inherits the patch.  ``session.get_spark``
selects it with ``spark.python.daemon.module``.
"""

import zipimport

from pyspark import daemon


def _keep_zip_directory(self) -> None:
    """A zipimporter's ``invalidate_caches`` that keeps its directory."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    daemon.manager()
