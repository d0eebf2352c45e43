"""Skip unchanged zip-archive reloads in Spark Python workers.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task.  On
CPython 3.10–3.12 that makes every ``zipimporter`` on the worker's path
(``pyspark.zip``, one per imported pyspark subpackage, the spark-core
jar; about 16) re-parse its archive's whole directory: about 0.2 s of
fixed cost per task.  CPython 3.13 made ``zipimporter.invalidate_caches``
lazy upstream, so there this module changes nothing.

:func:`invalidate_caches` re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since that importer last read
it, so an archive rewritten in place (``addPyFile``, SparkFiles) still
reloads.  Importing :mod:`markmuse_spark` inside a running task installs it
(:func:`install_in_worker`): a worker's first markmuse task unpickles its
function, which imports the package, so that worker's later tasks skip
the re-reads.  This needs nothing at executor start, so ``--py-files``
deployments keep working; driver processes are left alone.

To see it, set the ``org.apache.spark.sql.execution.python`` logger to
INFO: the per-task ``Times: … init = N`` line drops from hundreds of ms to
a few ms once a worker has run two markmuse tasks.
"""

import os
import sys
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read the archive only when its ``(st_ino, st_size,
    st_mtime_ns)`` changed since this importer last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reload(self)
        self._read_stamp = stamp


def install_in_worker():
    """Install :func:`invalidate_caches` on ``zipimporter`` when called
    inside a Spark task on Python < 3.13 (3.13+ only drops the cache
    entry)."""
    if sys.version_info >= (3, 13):
        return
    # a worker imports pyspark.taskcontext before it unpickles a task
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
