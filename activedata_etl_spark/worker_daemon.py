"""The pyspark daemon that ``session.get_spark`` runs its Python workers under.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 a
``zipimporter`` answers that by re-reading its archive's whole central
directory, and pyspark.zip puts one zipimporter per sub-package in
``sys.path_importer_cache``: ~15 reads of a 1,328-entry directory, 72-112 ms
of a reused worker's CPU per task, for archives that do not change.  Here a
zipimporter re-reads only when its archive's (mtime, size, inode) differs
from the one its cached directory was read at, so a new or rewritten archive
(an ``addPyFile`` zip) is still read.  From CPython 3.13 a zipimporter
keeps no eagerly read ``_files`` and invalidates lazily; there the stock
method runs unchanged (checked on 3.12.1, eager like 3.11, and 3.13.0).
Then pyspark's own daemon runs; its forked workers inherit both the
override and the directories read here.

Before it forks, the daemon also imports the Arrow-UDF stack every worker
loads anyway (numpy, pandas, pyarrow, pyspark's Arrow serializers and
``pyspark.worker``) and moves everything it holds into the collector's
permanent generation (``gc.freeze()``).  pyspark's daemon runs
``gc.collect()`` after every task of a reused worker; unfrozen, that walked
the ~73k objects of those modules each time (17-24 ms of worker CPU per
collect in a probe worker).  Now it walks only what the task itself
allocated, which it still frees.  The freeze is safe: the frozen objects
are the daemon's module state, which lives for the whole session anyway,
so a collector pass could never have freed them.  The package's own UDF
modules are not pre-imported:
a worker that has loaded ``operators.similarity`` and ``functions.normalize``
tracked 1,044 objects without them frozen and 721 with, 0.09 against
0.06 ms per collect.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> the stat stamp it had when its cached directory was read
_read_at: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory of
    an unchanged archive."""
    if not hasattr(self, "_files"):
        return _stock_invalidate(self)
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _read_at.get(self.archive) != stamp:
        _stock_invalidate(self)  # stat first: a later rewrite still differs
        _read_at[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before the forks
    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()
