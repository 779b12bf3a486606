"""Python worker daemon that keeps zip directory caches across tasks.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters. Spark then starts it as
``python -m polars_text_spark._worker_daemon <worker module>``, and it
runs the stock ``pyspark.daemon.manager()``: the daemon, the forked
workers and the task protocol are unchanged.

Before it starts the manager, it replaces
``zipimport.zipimporter.invalidate_caches`` with a stamp-checked
version, which the forked workers inherit. Every task calls
``importlib.invalidate_caches()`` from ``setup_spark_files`` in
``pyspark/worker_util.py``, and the stock method re-reads the whole
central directory of the importer's archive. A worker holds about a dozen
importers on ``pyspark.zip`` (one per subpackage) and two on the
spark-core jar (5,359 entries), so every task re-read tens of thousands
of directory entries before running any user code. The stamp-checked
method re-reads an archive only when its ``(st_size, st_mtime_ns)``
differs from the stamp of its last read; an archive that is missing,
unreadable or changed takes the stock path, so invalidation stays
correct.

The patch is installed only on the versions it was verified against
(``_VERIFIED``). On any other, the stock daemon runs unpatched and one
line on the ``polars_text_spark`` logger says why.
"""

from __future__ import annotations

import logging
import os
import sys
import zipimport

# (PySpark major.minor, CPython major.minor) the patch was verified on:
# it reads zipimport's private ``_zip_directory_cache`` and relies on
# the stock method's body (zipimport.py in CPython 3.11).
_VERIFIED = ((4, 1), (3, 11))

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_size, st_mtime_ns) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
# directory reads made through the stock method; a reused worker's count
# grows only when an archive changes
rereads = 0


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The stamp is taken before the read, so an archive rewritten during
    the read carries a stale stamp and is read again next time.
    """
    global rereads
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    rereads += 1
    _stock_invalidate_caches(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


# read by the worker test: ``__module__`` is ``__main__`` under ``-m``
invalidate_caches.stamp_checked = True


def skip_reason(
    pyspark_version: str, python_version: tuple[int, ...]
) -> str | None:
    """Why the patch must not be installed on these versions, or None."""
    (spark_major, spark_minor), (py_major, py_minor) = _VERIFIED
    spark_mm = tuple(int(p) for p in pyspark_version.split(".")[:2] if p.isdigit())
    if spark_mm != (spark_major, spark_minor):
        return f"PySpark {pyspark_version} is not {spark_major}.{spark_minor}.x"
    if tuple(python_version[:2]) != (py_major, py_minor):
        return "CPython %d.%d is not %d.%d" % (*python_version[:2], py_major, py_minor)
    return None


def install() -> bool:
    """Install the stamp-checked method if the versions allow it."""
    import pyspark

    reason = skip_reason(pyspark.__version__, sys.version_info)
    if reason is not None:
        logging.getLogger("polars_text_spark").warning(
            "zip directory cache patch skipped: %s; running the stock "
            "pyspark.daemon", reason
        )
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Run through the package module, not this ``__main__`` copy, so the
    # workers' ``polars_text_spark._worker_daemon`` is the patch's state.
    from polars_text_spark._worker_daemon import main as _main

    _main()
