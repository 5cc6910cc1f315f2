"""Python worker daemon that preloads the scientific stack before
forking (set as ``spark.python.daemon.module`` by ``session.get_spark``).

Why: every kernel in this engine crosses the Python boundary through
Arrow (pandas UDFs / mapInPandas), so the FIRST task wave of a session
forks one Python worker per core and each fork then pays a full
``import pandas`` + ``import pyarrow`` (~0.6-0.9 s each, all forks
contending for the same page cache and GIL-free CPU). Importing the
stack ONCE in the daemon parent means every forked worker inherits the
already-initialized modules through copy-on-write pages — the fork
itself stays microseconds and the first-query ("cold") cost drops by
the whole import wave. At cluster scale the same wave repeats per
executor per session; preloading is strictly cheaper there too (one
import per executor instead of one per worker).

Zip directories: every task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 a
``zipimporter`` answers that by re-reading its whole archive
directory. Workers import pyspark from ``pyspark.zip``, which holds
~16 importers over ~1,700 entries, so each task paid 0.2-0.3 s of
worker CPU before reading its first row (cProfile of
``setup_spark_files`` in a worker: 0.76 s, all in
``zipimport._read_directory``). ``_reread_zip_if_changed`` re-reads an
archive only when its size or mtime changed, which is when a re-read
can see anything new. The daemon also ``gc.freeze()``s the preloaded
objects before forking: a reused worker runs ``gc.collect()`` after
every task, which otherwise walks every inherited object.

The native trie-walk kernel (``functions/native.py``) is loaded here
too, so an executor compiles (on a cold cache) and ``dlopen``s it once
and every worker starts with it mapped.

Correctness: identical to the stock ``pyspark.daemon`` — this module
only imports libraries the workers would import anyway and then hands
off to the stock manager loop. If any import or the kernel's load fails
the daemon still starts (workers import lazily as before; the walk
falls back to Python).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

for _mod in ("numpy", "pandas", "pyarrow", "pyarrow.parquet"):
    try:
        importlib.import_module(_mod)
    except Exception:  # pragma: no cover - defensive: never block startup
        pass

# the engine's own kernels (traversal DP, damerau, dedup signatures)
# are imported by reference from worker tasks; warming them here makes
# their first call on every forked worker free as well
for _mod in (
    "prefixtree_spark.functions.levenshtein",
    "prefixtree_spark.functions.damerau",
):
    try:
        importlib.import_module(_mod)
    except Exception:  # pragma: no cover
        pass

# the native trie walk: compiled (or found in the cache) and dlopen'ed
# once per executor, and every forked worker inherits the mapping; a
# failure only means the Python walk, after one warning naming why
try:
    importlib.import_module("prefixtree_spark.functions.native").load()
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager  # noqa: E402


def _archive_stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


_reread_zip = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _reread_zip_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive is unchanged on disk (see the module docstring)."""
    stat = _archive_stat(self.archive)
    if stat is not None and stat == getattr(self, "_pt_stat", None):
        return
    _reread_zip(self)
    self._pt_stat = stat


if _reread_zip is not None:
    zipimport.zipimporter.invalidate_caches = _reread_zip_if_changed
    # importers that already exist read their directory when created
    for _imp in list(sys.path_importer_cache.values()):
        if isinstance(_imp, zipimport.zipimporter):
            _imp._pt_stat = _archive_stat(_imp.archive)

if __name__ == "__main__":
    # a reused worker runs gc.collect() after every task; freezing what
    # the parent preloaded keeps those collections from walking ~77k
    # inherited objects (~45 ms each) and dirtying their shared pages
    gc.collect()
    gc.freeze()
    manager()
