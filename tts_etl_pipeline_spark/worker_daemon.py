"""PySpark worker daemon whose zip importers re-read an archive only when it changed.

`get_spark` starts Python workers through this module
(`spark.python.daemon.module`). It installs one guard and then runs
PySpark's own daemon, `pyspark.daemon.manager()`, so every forked worker
inherits the guard.

Why: at the start of every task PySpark's worker calls
`importlib.invalidate_caches()` (`pyspark.worker_util.setup_spark_files`).
On Python 3.11 each `zipimporter.invalidate_caches()` re-reads its
archive's whole central directory in pure Python, and the worker path
carries two big archives: `pyspark.zip` (~1.3k entries, ~9 ms a read) and
Spark's core jar (~5.4k entries, ~28 ms). A reused worker holds about 14
importers on the zip and 2 on the jar, so every Python task paid
0.16-0.30 s before running a row, and the audio stage pays it three times.

The guard calls the original re-read only when the archive's
`(st_mtime_ns, st_size)` differs from the stamp taken the last time *that
importer* read it, or when the archive cannot be stat'ed. The stamp is
per importer, not per path: many importers share one archive, and each
holds its own copy of the directory, so one importer's re-read does not
make another's fresh. An unchanged archive would re-read to the same
directory, so skipping it changes nothing; a changed one is still re-read.
"""

from __future__ import annotations

import importlib
import os
import weakref
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
# zipimporter -> (st_mtime_ns, st_size) of its archive when it last read it.
_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _guarded_invalidate(self) -> None:
    """`zipimporter.invalidate_caches`, skipped while the archive is unchanged."""
    try:
        st = os.stat(self.archive)
    except OSError:
        # The re-read fails too and empties this importer's directory, so
        # its old stamp no longer describes what it holds.
        _stamps.pop(self, None)
        _original_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if _stamps.get(self) == stamp:
        return
    # Stamp taken before the read: an archive rewritten during the read
    # leaves an older stamp, so the next call re-reads again.
    _original_invalidate(self)
    _stamps[self] = stamp


def install() -> None:
    """Replace `zipimporter.invalidate_caches` with the stat guard (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def main() -> None:
    install()
    import pyspark.daemon

    # Stamp the importers the daemon already holds (pyspark.zip, the jar),
    # so forked workers skip the re-read from their first task on.
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # Run under the importable name, so the installed guard's __module__
    # names this module rather than __main__.
    from tts_etl_pipeline_spark.worker_daemon import main as _main

    _main()
