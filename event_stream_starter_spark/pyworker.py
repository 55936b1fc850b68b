"""Python worker daemon for the engine's sessions.

Spark starts one daemon per executor (``python -m <spark.python.daemon.module>``)
and forks every Python UDF worker from it, so whatever the daemon sets up
before ``pyspark.daemon.manager()`` is inherited by every worker.
``session.get_spark`` points ``spark.python.daemon.module`` here.

Before each task, pyspark's worker calls ``importlib.invalidate_caches()``
so that newly shipped files become importable. On CPython < 3.13 that
makes every ``zipimporter`` re-read its archive's whole central
directory: a worker holds 16 importers, 12 of them into
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), one per package
it imported, and each re-reads the same unchanged file. On a 4-vCPU VM
a trivial 4-partition ``pandas_udf`` job took 250-353 ms against
31-41 ms for the same job without a UDF; from this daemon it takes
116-146 ms. CPython 3.13 made the re-read lazy.

The daemon installs :func:`stat_guarded` over
``zipimporter.invalidate_caches``: an archive is re-read only when its
``(inode, mtime_ns, size)`` differs from the stat taken when it was last
read, so a rewritten zip is still picked up on the next task.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def stat_guarded(reread):
    """Wrap a ``zipimporter.invalidate_caches`` (``reread``) so that it
    re-reads an archive only when the archive's stat changed since it was
    last read. The directory read at a stat is shared by every importer
    of that archive, so each change costs one read, not one per
    importer. An archive that cannot be stat'ed is left to ``reread``."""
    reads: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        seen = reads.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # Stat before the read: a rewrite racing the read shows up as a
        # changed stat on the next call.
        reread(self)
        if key is not None:
            reads[self.archive] = (key, self._files)

    invalidate_caches.stat_guarded = True
    return invalidate_caches


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process (CPython
    < 3.13; later versions re-read lazily) and read each archive of the
    current importers once, so forked workers start with every archive
    already read at its present stat."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    cls.invalidate_caches = stat_guarded(cls.invalidate_caches)
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
