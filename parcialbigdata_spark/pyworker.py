"""Cheap ``importlib.invalidate_caches()`` for zip archives on Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before 3.13 each
``zipimporter`` then re-reads its archive's central directory at once:
16 reads of the 1,328-entry ``pyspark.zip``, about 0.2 s of CPU per task
before the task reads a row. Here an archive's directory is re-read only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since it was last
read; otherwise the importer gets the cached directory back. A missing
archive, one never read since this module was imported, or a
``ZipImportError`` takes the stdlib path. 3.13 re-reads lazily and is
left alone.

Imported for its effect by the package, so a Python worker installs it
when it unpickles its first task's UDF; later tasks on that (reused)
worker skip the re-reads.
"""

import os
import sys
import zipimport


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _install():
    stdlib_read = zipimport._read_directory
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive -> its stat key just before its last read

    def _read_directory(archive):
        key = _stat_key(archive)
        files = stdlib_read(archive)
        read_at[archive] = key
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        key = _stat_key(self.archive)
        if files is not None and key is not None and read_at.get(self.archive) == key:
            self._files = files
        else:
            stdlib_invalidate(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install()
