"""Python-worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``.  On Python 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's whole central directory: a worker holds ~18 importers over
the 1,328-entry ``pyspark.zip``, which cost 0.15-0.55 s per task (4-core
host) before the first row reached the UDF.

Here an archive's directory is re-read only when its
``(st_size, st_mtime_ns)`` differs from the last read -- the staleness
key ``sources/tables.py::read_parquet`` trusts for parquet schemas.
Importers of one archive share that read.  A new path still gets a new
importer, so ``.py`` files and zips added to a running session stay
importable.

``session.py::get_spark`` starts this module through
``spark.python.daemon.module``; the workers it forks inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_size, st_mtime_ns) at its last directory read; as
# process-wide as zipimport's own _zip_directory_cache, which it guards
_read_keys: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since the last read."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stock_invalidate(self)
        return
    # stat BEFORE the read: an archive rewritten during the read leaves a
    # key that no longer matches, so the next call reads it again
    key = (st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_keys.get(archive) == key:
        self._files = files
        return
    _stock_invalidate(self)
    _read_keys[archive] = key


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and take the first read of
    every archive now, so forked workers start with the keys filled."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Run as ``python -m``, this file is ``__main__``; take the patch from
    # the package module so the patched method names its real home.
    from pyspark import daemon

    from etl_rf_matrix_controller_spark.worker_daemon import install as _install

    _install()
    daemon.manager()
