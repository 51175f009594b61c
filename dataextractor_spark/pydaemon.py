"""Spark's Python daemon, minus a per-task re-read of pyspark.zip.

``session.get_session`` sets ``spark.python.daemon.module`` to this
module, so Spark starts its Python worker daemon as
``python -m dataextractor_spark.pydaemon`` instead of
``python -m pyspark.daemon``.

Why: ``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the
start of every task, so that files shipped with ``addPyFile`` become
importable. On CPython 3.10 and 3.11, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory. Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, 1,328 entries)
through one zipimporter per imported subpackage, 12 or more, so
every task re-read the same unchanged archive that many times: about
0.15 s of every Python task on a 4-core host. CPython 3.12 made the
re-read lazy.

What this module changes: a zipimporter re-reads its archive only when
the archive's ``(st_mtime_ns, st_size)`` differs from the last read.
The stamps live in one dict keyed by archive path, shared by every
zipimporter of that archive. The daemon primes them once before it
forks, so workers inherit them. Files added with ``addPyFile`` arrive
under new paths and are read as before; an archive rewritten in place
gets a new stamp and is re-read. The check is correct on every Python
version, so there is no version branch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path → (st_mtime_ns, st_size) at its last directory read.
_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is unchanged."""
    archive = self.archive
    stamp = _stamp(archive)  # before the read: a write after it shows next time
    if stamp is not None and _stamps.get(archive) == stamp:
        return
    # On 3.10/3.11 every zipimporter keeps its own copy of the directory,
    # so a changed archive refreshes all importers of it, not only the
    # first one asked; the rest then find the new stamp and skip.
    importers = {id(self): self}
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter) and finder.archive == archive:
            importers[id(finder)] = finder
    for importer in importers.values():
        _reread(importer)
    if stamp is None:
        _stamps.pop(archive, None)
    else:
        _stamps[archive] = stamp


def install() -> None:
    """Route every ``zipimporter.invalidate_caches`` through the stamp check."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def main() -> None:
    """Install the check, prime the stamps, then run ``pyspark.daemon``."""
    install()
    import pyspark.worker  # noqa: F401  (the daemon imports it anyway)

    importlib.invalidate_caches()  # stamps every archive; forked workers inherit them
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Run the copy imported under the package name, so that the wrapper
    # and its stamps are dataextractor_spark.pydaemon's, not __main__'s.
    from dataextractor_spark.pydaemon import main as _main

    _main()
