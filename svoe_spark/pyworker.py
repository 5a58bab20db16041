"""The engine's Python-worker daemon: ``pyspark.daemon`` without the
per-task re-read of ``pyspark.zip``.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()``. Before CPython 3.12,
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory right away, once for each zipimporter in
``sys.path_importer_cache``; the workers import PySpark from
``pyspark.zip`` (1,328 entries) and hold one importer for it per
package imported from it (12 for a trivial ``applyInPandas``), so every
task paid 56-80 ms of CPU to re-read an unchanged file. Here an archive
is re-read only when its ``(st_ino, st_size, st_mtime_ns)`` changed since
its last read; otherwise the importer takes the directory zipimport
already cached. CPython 3.12+ reads lazily and keeps the stdlib method.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
patch lives only in the Python workers, from their first task on, and
the driver's ``zipimport`` stays untouched. Spark starts the daemon as
``python -m svoe_spark.pyworker``; in local mode it inherits the driver's
working directory and ``PYTHONPATH``. On a cluster, ``svoe_spark`` must
be importable when the executor starts its Python daemon (the workers
already import it to unpickle the engine's UDF bodies).
"""

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> (st_ino, st_size, st_mtime_ns) at its last read; process-wide,
# like zipimport's own _zip_directory_cache it guards
_read_stamps: dict = {}


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stdlib_invalidate_caches(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _read_stamps[self.archive] = stamp
        _stdlib_invalidate_caches(self)


def main():
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # run the importable module's main, so workers see
    # svoe_spark.pyworker.invalidate_caches, not a __main__ copy
    from svoe_spark.pyworker import main

    main()
