"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.11 and 3.12 that makes every ``zipimporter`` on the worker's path
re-read its whole archive directory in pure Python, and a worker holds
one importer per path entry and imported subpackage: 16 of them over
``pyspark.zip`` (1,328 entries, ~9 ms a read), the py4j zip and the
``spark-core`` jar that Spark puts on every worker's path (5,359
entries, ~46 ms a read). Without this module that costs every Python
task 0.1-0.5 s of set-up before its first row, depending on load
(4-core host).

Importing this module replaces ``zipimport.zipimporter.invalidate_caches``
with a version that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the signature taken
before its last read; otherwise the importer takes the directory
already in ``zipimport._zip_directory_cache``. An archive whose
signature is not known yet (read when its importer was built) is
re-read once, so the first call costs one read per archive and later
calls on an unchanged path cost one ``stat`` per importer. A rewrite
that keeps the inode, the size and the timestamp tick goes unseen, the
same limit as CPython's own mtime-checked bytecode cache.

The package imports this module first, so every worker that unpickles
a package function installs it, and every later task on that worker
skips the re-reads. CPython 3.13+ already invalidates lazily
(``zipimporter._get_files``); there this module changes nothing.
"""

from __future__ import annotations

import os
import threading
import zipimport

# archive path -> its signature, taken just before its last read here;
# the lock makes stat, compare, read and record one step, so two threads
# racing over a rewritten archive cannot pair a new signature with an
# old directory
_read_at: dict[str, tuple[int, int, int] | None] = {}
_lock = threading.Lock()


_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    """Reload the archive's file data if the archive changed."""
    with _lock:
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and _read_at.get(self.archive) == sig:
            self._files = files
            return
        _reread(self)
        _read_at[self.archive] = sig


if not hasattr(zipimport.zipimporter, "_get_files"):
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
