"""Python worker daemon that re-reads a zip archive only when it changed.

Every Python-UDF task (``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState``, ...) runs ``pyspark.worker_util
.setup_spark_files``, which ends in ``importlib.invalidate_caches()``.
On CPython versions whose ``zipimport.zipimporter.invalidate_caches``
re-parses the archive's central directory eagerly (3.11 does, in pure
Python), that call re-reads every zip on the worker's ``sys.path``
once per importer. Spark puts ``pyspark.zip`` (about 1,300 entries)
first on that path, and a warm worker holds one importer for the zip
plus one per imported subpackage, 16 in all: every task re-read the
same unchanged archive 16 times, ~1 s of worker CPU per job of four
trivial tasks on a 4-core host.

This module wraps that method so an archive is re-read only when its
``(st_ino, st_mtime_ns, st_size)`` differs from the stamp of its last
read in the process; until then every importer of the archive shares
that read's directory (16 reads, and 16 copies of the directory, become
one). A zip that really changes is re-read, and a zip new to
``sys.path`` (a ``--py-files`` addition) gets a fresh importer that
reads it on creation, so imports see what they saw before.

Run as Spark's daemon module (``spark.python.daemon.module``, which
:func:`~audio_feature_extraction_spark.core.session.get_spark` sets for
``local`` masters): it installs the wrapper, reads each archive once for
the importers the daemon already holds, then hands over to
``pyspark.daemon.manager()``. Forked workers inherit the wrapped method
and the shared reads.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory read at that stamp). Shared by every
# importer of the archive, as zipimport's own directory cache is.
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def memoized_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stamp differs from the one of the last read in this
    process; otherwise the importer takes that read's directory.

    The stamp is taken before the read, so a write racing the read
    leaves an older stamp behind and the next call reads again."""
    stamp = _archive_stamp(self.archive)
    known = _directories.get(self.archive)
    if stamp is not None and known is not None and known[0] == stamp:
        self._files = known[1]
        zipimport._zip_directory_cache[self.archive] = known[1]
        return
    _stock_invalidate_caches(self)
    if stamp is None:
        _directories.pop(self.archive, None)
    else:
        _directories[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = memoized_invalidate_caches
    from pyspark import daemon

    # read each archive once here and share it among the importers created
    # so far (pyspark.zip and its imported subpackages), so a freshly
    # forked worker's first task reads nothing either
    importlib.invalidate_caches()
    daemon.manager()
