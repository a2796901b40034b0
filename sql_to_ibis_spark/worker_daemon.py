"""PySpark's worker daemon, minus a per-task re-read of Spark's zip archives.

Spark starts this module as ``python -m sql_to_ibis_spark.worker_daemon``
when the session sets ``spark.python.daemon.module`` to it, as
``session.get_spark`` does. It patches ``zipimport`` and then runs
``pyspark.daemon.manager()``, so every worker it forks, and every task a
reused worker runs, starts with the patch in place.

Why: before each task, PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). On CPython 3.10-3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory. A worker holds 16 of them, over ``pyspark.zip`` (1,328
entries), the py4j zip and ``spark-core_*.jar`` (5,359 entries, which
``PythonUtils.sparkPythonPath`` puts on the path): about 105 ms per task,
more than most UDFs take. CPython 3.13 only drops the entry and reads the
directory again when it is next needed, so there the module changes nothing.

After the patch a zipimporter re-reads its archive only when the file's
``(st_mtime_ns, st_size, st_ino)`` differs from what it was just before the
archive was last read. A rewritten archive is still read again; finders over
directories (``FileFinder``, which covers the files ``addPyFile`` ships) are
left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have not
    changed since they were read. A no-op outside CPython 3.10-3.12: the
    worker's interpreter is checked, not the driver's, since
    ``PYSPARK_PYTHON`` can make them differ."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return
    read = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive path -> its stamp taken just before its last read, so a
    # rewrite that lands while the archive is read still shows as a change
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def read_directory(archive):
        stamp = _stamp(archive)
        files = read(archive)
        read_at[archive] = stamp
        return files

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = cache.get(self.archive)
        if stamp is None or files is None or read_at.get(self.archive) != stamp:
            reread(self)    # reads through read_directory, so it is stamped
        else:
            # another zipimporter over this archive may have re-read it
            self._files = files

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # archives read before the patch have no stamp: read each once more
    # here, in the daemon, instead of once in every forked worker
    for archive in list(cache):
        try:
            cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)


if __name__ == "__main__":
    # under ``python -m`` this file runs as ``__main__``; install from the
    # copy imported by name, so the patched methods name their module
    from pyspark import daemon

    from sql_to_ibis_spark import worker_daemon

    worker_daemon.install()
    daemon.manager()
