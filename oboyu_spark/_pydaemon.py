"""The engine's PySpark worker daemon: ``pyspark.daemon`` with a cheap
``importlib.invalidate_caches()``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task. Before CPython 3.13 that makes every cached
``zipimporter`` re-read its archive's central directory at once, and
the ~15 importers for packages inside ``pyspark.zip`` each re-read the
same 1,328-entry directory (0.09-0.14 s per task). Here an archive is
re-read only when its (mtime, size) changed since its cached directory
was read, so a replaced archive is still picked up, and an importer
made later from that cache shares it instead. Workers fork from this
daemon, so they inherit the patch and the read from their first task on.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (mtime_ns, size) at the read that filled its entry in
# zipimport._zip_directory_cache (process-wide, like that cache)
_read_at: dict = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is None or cached is None or _read_at.get(self.archive) != key:
        _reread(self)
        _read_at[self.archive] = key
    else:
        self._files = cached


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13's zipimport only drops its cache
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # read each archive once, before the forks
    manager()
