"""Python worker daemon for local sessions (`spark.python.daemon.module`).

Every Python task starts with `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()` so that files added with
`addPyFile` since the last task become importable. On Python 3.11 each
`zipimporter` re-reads its whole archive directory on that call, and a
worker holds about 16 of them over Spark's own `pyspark.zip`, py4j zip
and spark-core jar: 100-250 ms per task before any user code runs.

Those archives are on `sys.path` before the daemon forks its first
worker and do not change while it runs, so their importers here keep
the directory they read once. Every other path still invalidates: the
SparkFiles directory and the zips `addPyFile` adds come later. Then the
stock `pyspark.daemon.manager()` runs as usual. (The hook is the daemon
because Spark's daemon only loads a custom worker module whose name
starts with `pyspark`.)
"""

import os
import sys
import zipimport


def freeze_archives(paths) -> None:
    """Make zip importers over the given `.zip`/`.jar` files skip
    `invalidate_caches()`."""
    frozen = frozenset(p for p in paths if p.endswith((".zip", ".jar")) and os.path.isfile(p))
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in frozen:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    freeze_archives(sys.path)
    from pyspark import daemon

    daemon.manager()
