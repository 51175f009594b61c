"""The one scratch-directory helper for code that sinks files."""

from __future__ import annotations

import atexit
import shutil
import tempfile


def scratch_dir(prefix: str) -> str:
    """A fresh private temp directory, removed when the process exits.

    Each call gets its own directory, so two concurrent runs of a
    query that writes and reads back files never share a path. The
    directory outlives the call on purpose: the DataFrame a query
    returns scans it lazily, after the builder has returned."""
    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out
