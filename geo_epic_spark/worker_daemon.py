"""Python worker daemon that skips re-reading Spark's own archives per task.

``session.DEFAULT_CONF`` sets ``spark.python.daemon.module`` to this module,
so Spark starts it as ``python -m geo_epic_spark.worker_daemon`` in place of
``pyspark.daemon``. On every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``, and each cached zipimporter then
re-reads its archive's whole directory: pyspark.zip, the py4j zip and the
spark-core jar, which Spark's ``PYTHONPATH`` puts on ``sys.path``. That is
most of a reused worker's fixed cost per task.

At start-up the daemon records the archives on ``sys.path`` and makes
``zipimport.zipimporter.invalidate_caches`` return at once for those only;
they do not change while the daemon runs. Every other finder still
invalidates, and so does every archive that reaches ``sys.path`` later (a
zip shipped with ``addPyFile`` or ``--py-files`` lands in the task's files
directory). Then it runs ``pyspark.daemon.manager()``; the forked workers
inherit the patch.

Spark starts the daemon before any ``--py-files`` reach ``sys.path``, so
executors must import ``geo_epic_spark`` at start-up: installed, on
``PYTHONPATH``, or in the working directory of the process that starts the
daemon (``python -m`` puts it first on ``sys.path``).
"""

from __future__ import annotations

import os
import sys
import zipimport


def skip_archive_rereads(archives: frozenset[str]) -> None:
    """Make zipimporters over ``archives`` ignore ``invalidate_caches``."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in archives:
            reread(self)

    invalidate_caches.skipped = archives
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    skip_archive_rereads(frozenset(p for p in sys.path if os.path.isfile(p)))
    from pyspark import daemon

    daemon.manager()
