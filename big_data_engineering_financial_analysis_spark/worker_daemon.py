"""Spark's Python worker daemon, minus a per-task re-read of Spark's own zips.

Run by the JVM as ``python -m <this module>`` (``session.get_spark`` sets
``spark.python.daemon.module``); it patches ``zipimport`` and then runs
``pyspark.daemon.manager()``, so every worker it forks inherits the patch
before its first task.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every ``zipimporter`` on
the worker's path then re-reads its archive's central directory.  The
JVM puts three of Spark's own archives on that path:
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries; a dozen or more
zipimporters point into it after the worker's imports), the py4j zip
beside it, and the spark-core jar from ``$SPARK_HOME/jars/`` (5,359
entries).  Re-reading them cost 117-231 ms of every task of every Python
UDF on a 4-core host with CPython 3.11.  They do not change while the
JVM runs, so the patched ``invalidate_caches`` skips archives under
those two directories (compared after resolving symlinks) and reloads
every other one as before: ``--py-files``/``addPyFile`` zips live in the
SparkFiles root and are still invalidated.  With ``SPARK_HOME`` unset
nothing is skipped.

Importing this module changes nothing; the patch applies only under
``__main__``.
"""

from __future__ import annotations

import os
import zipimport

_invalidate_zip = zipimport.zipimporter.invalidate_caches


def spark_archive_dirs() -> tuple[str, ...]:
    """The directories of Spark's own archives, symlinks resolved, each
    ending in a separator; none when ``SPARK_HOME`` is unset."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        return ()
    home = os.path.realpath(home)
    return os.path.join(home, "python", "lib", ""), os.path.join(home, "jars", "")


def invalidate_unless_spark_archive(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that leaves Spark's own archives cached."""
    if not os.path.realpath(importer.archive).startswith(spark_archive_dirs()):
        _invalidate_zip(importer)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_unless_spark_archive

    from pyspark.daemon import manager

    manager()
