"""Python worker daemon with a cached import path (`spark.python.daemon.module`).

Every Python task starts with `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`), and on Python 3.11 that makes each
`zipimporter` re-read its archive's whole directory. A worker imports PySpark
from `$SPARK_HOME/python/lib/pyspark.zip` and has the py4j zip and the
spark-core jar on its path: 16 importers, ~200 ms per task, for files that
never change while Spark runs. This entry point swaps the zip path hook for
one that skips the re-read for archives under `$SPARK_HOME`, then runs the
stock daemon; the workers it forks inherit the hook. Any other archive, such
as one shipped with `addPyFile`, is re-read as before.

Stdlib and pyspark only: the daemon imports this before anything else.
"""

import os
import sys
import zipimport

_SPARK_HOME = os.path.join(os.path.realpath(os.environ.get("SPARK_HOME") or "/nonexistent"), "")


class SparkArchiveImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(_SPARK_HOME):
            super().invalidate_caches()


def install() -> None:
    """Route zip imports through SparkArchiveImporter, and drop the finders
    already cached so they are rebuilt through it."""
    sys.path_hooks[:] = [
        SparkArchiveImporter if hook is zipimport.zipimporter else hook for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
