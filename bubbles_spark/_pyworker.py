"""The engine's Python worker daemon: ``pyspark.daemon`` plus one
import rule.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so Spark starts ``python -m bubbles_spark._pyworker`` where it
would start ``python -m pyspark.daemon``.  The module installs the
rule below and then runs ``pyspark.daemon`` as ``__main__``, unchanged.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Before CPython 3.12
(gh-103200 made it lazy) that makes every ``zipimporter`` re-parse the
whole central directory of its archive: a worker holds one importer
per package path inside ``pyspark.zip`` (1,328 entries), and the
re-reads cost about 0.2 s of CPU per task.

The rule: ``zipimporter.invalidate_caches`` re-reads an archive only
when its ``(st_ino, st_size, st_mtime_ns)`` differs from the last
read, the identity ``io.table_schema`` keys its schemas on; every
importer of an unchanged archive shares the directory already cached.
A rewritten archive, or one added with ``addPyFile``, is still read,
so imports resolve as before.

Importing this module installs nothing; it must stay light (no pandas,
no pyarrow) so the daemon forks workers from the same state as the
stock daemon.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport

# names the installed rule, also when this module runs as ``__main__``
_RULE_MODULE = "bubbles_spark._pyworker"
# archive path -> identity of the directory in zipimport's cache
_read_as: dict[str, tuple[int, int, int] | None] = {}


def _identity(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> bool:
    """Install the rule where the interpreter re-reads eagerly
    (CPython < 3.12); returns whether it did.  Archives already cached
    count as read as they are now."""
    if sys.version_info >= (3, 12):
        return False
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        """Reload the archive's directory only if the file changed."""
        ident = _identity(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if ident is not None and cached is not None and _read_as.get(self.archive) == ident:
            self._files = cached
            return
        reread(self)
        _read_as[self.archive] = ident

    invalidate_caches.__module__ = _RULE_MODULE
    _read_as.update((a, _identity(a)) for a in zipimport._zip_directory_cache)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__")
