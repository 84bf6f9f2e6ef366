"""Python-worker entry point for sessions built by ``get_spark``.

PySpark 4.1 calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). On Python 3.11 every
cached ``zipimport.zipimporter`` answers that by re-reading the whole
central directory of its archive. ``pyspark.zip`` (1,328 entries) sits
behind about 16 such importers, one per imported package, so a stock
worker re-reads it about 16 times per task: most of a warm worker's CPU
time on small ``mapInPandas`` / ``pandas_udf`` tasks.

This module makes the re-read conditional. Each importer keeps the
``(st_mtime_ns, st_size)`` of its archive as it last read it, and
re-reads only when that stamp changed or ``stat`` fails. A zip that
``addPyFile`` adds mid-session gets a new importer, which reads it; a zip
rewritten in place gets a new stamp, which re-reads it.

Spark loads it through ``spark.python.worker.module``. The name must
start with ``pyspark``: ``pyspark/daemon.py`` ignores any other worker
module. With ``spark.python.use.daemon=false`` Spark runs
``python -m`` on this module, hence the ``__main__`` block.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only if it changed since this importer last
    read it. The stamp is taken before the read, so a write racing the
    read leaves a stale stamp and the next call reads again."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_graft_stamp", None):
        return
    _reread(self)
    self._graft_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (pyspark/daemon.py calls it)
