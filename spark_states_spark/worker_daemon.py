"""Python-worker daemon for engine sessions: PySpark's own daemon, started
after one fix to zip-import cache invalidation.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). The JVM puts
``$SPARK_HOME/python/lib/pyspark.zip`` first on the workers' path, so
pyspark is imported from that zip. On CPython < 3.13 each cached
``zipimporter`` answers the call by re-reading the archive's whole central
directory, and there is one importer per package directory imported from
the zip: about 18 reads of a 1,328-entry directory, ~270 ms of CPU per task
on a 4-core 2.1 GHz Xeon VM. CPython 3.13 makes the invalidation lazy.

``install`` gates the re-read on the archive's ``(st_ino, st_size,
st_mtime_ns)``, the way ``importlib``'s ``FileFinder`` gates a directory
re-list on its mtime. An unchanged archive keeps its cached directory. Any
change, or a failed stat, takes the stock eager re-read. Workers are forked
from this daemon, so each inherits the fix and a task pays a few stats.

Run as ``python -m spark_states_spark.worker_daemon``;
``session.build_session`` sets ``spark.python.daemon.module`` to it when the
workers can import this package.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> its (st_ino, st_size, st_mtime_ns) just before the last
# read of its directory into zipimport._zip_directory_cache
_READ_SIGNATURE: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data unless the archive is unchanged since
    its directory was last read."""
    archive = self.archive
    sig = _signature(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if sig is not None and cached is not None and _READ_SIGNATURE.get(archive) == sig:
        self._files = cached
        return
    _STOCK_INVALIDATE(self)
    if sig is not None and archive in zipimport._zip_directory_cache:
        _READ_SIGNATURE[archive] = sig
    else:
        _READ_SIGNATURE.pop(archive, None)


def install() -> bool:
    """Put the stat-gated ``invalidate_caches`` on ``zipimport.zipimporter``
    on CPython < 3.13; returns whether it did."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    # Install from the named module, not this __main__ copy, so workers
    # report the patch under the package's own module name.
    from spark_states_spark.worker_daemon import install as _install

    _install()

    import importlib

    from pyspark import daemon

    # Read each archive's directory once here, so forked workers start
    # with its signature recorded.
    importlib.invalidate_caches()
    daemon.manager()
