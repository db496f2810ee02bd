"""Python worker daemon for the engine's sessions.

Spark starts one daemon per executor as ``python -m <spark.python.daemon.module>``
and forks every Python worker from it; ``session.get_spark`` selects this
module. Run as ``__main__`` it changes one thing and then hands over to
PySpark's own ``pyspark.daemon.manager()``, so the forked workers inherit
the change. Importing it anywhere else changes nothing.

The change: at the start of every task PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
Under CPython 3.11 that makes every cached ``zipimport.zipimporter``
re-read its archive's whole directory, and pyspark is imported from
``pyspark.zip`` (1328 entries) through one importer per package (a
worker holds a dozen or more), so each task re-read that directory once
per importer before it read a row. The wrapper below re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp taken
before its last read; otherwise it points the importer at the directory
already in ``zipimport``'s cache. An archive that is rewritten is still
re-read, so what a worker can import is unchanged.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size), stat'ed just before its last read
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips re-reading an archive
    unchanged since its last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # imports pyspark.worker, so its archives are read

    # one stamped read per archive here, so no forked worker re-reads one
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
