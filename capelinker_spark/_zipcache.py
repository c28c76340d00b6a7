"""Keep zip-archive directories across ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``). On CPython
3.10-3.12 that makes every ``zipimporter`` re-read its archive's central
directory at once, and ``pyspark.zip`` is reached through one importer per
imported subpackage path: a reused worker re-parsed the same 3.5 MB archive
about 16 times per task, which cost more CPU than the string-distance
kernels the task ran. CPython 3.13 made the re-read lazy, so this module
does nothing there.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
keeps the cached directory while the archive's ``(st_mtime_ns, st_size,
st_ino)`` is unchanged; a rewritten or replaced archive is re-read as
before. The package ``__init__`` calls it, so every worker that unpickles a
capelinker UDF installs it.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> stat key at the last directory read made through the patch
_stamps: dict[str, tuple[int, int, int]] = {}


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; True if the patch is (now)
    in place. Idempotent; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        # the key was taken before the read: an archive rewritten during
        # the read gets a new key and is read again next time
        _stamps[self.archive] = key

    cls.invalidate_caches = invalidate_caches
    return True
