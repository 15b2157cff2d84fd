"""Python-worker daemon for engine sessions (``spark.python.daemon.module``).

Every Python-worker task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and the stdlib
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory on each call. Workers import pyspark from ``pyspark.zip``
through ~16 importers, so that re-parse cost more worker CPU than the
engine's own task work. Run as the daemon, this module makes an importer
re-read its archive only when the archive's ``(st_ino, st_mtime_ns,
st_size)`` changed, imports pandas and pyarrow, then runs the stock
``pyspark.daemon`` loop; forked workers inherit the patch and the
imports. Imported as a module it patches nothing.
"""

import importlib
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # gone: the stdlib read drops the archive's entries
    if stamp is None or stamp != getattr(self, "_graft_stamp", None):
        _read_archive(self)
        self._graft_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark import daemon

    # Every Arrow-batched task (mapInPandas, pandas UDFs) needs both, so
    # import them once here: each forked worker imported them on its
    # first such task, ≈ 0.3 s of CPU per worker.
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    # Stamp the importers the worker module created, so forked workers
    # start with nothing to re-read.
    importlib.invalidate_caches()
    daemon.manager()
