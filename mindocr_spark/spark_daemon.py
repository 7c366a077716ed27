"""Python-worker daemon entry: the CPython 3.12 zipimport fix backported,
and a warm, frozen runtime that every worker forks from.

Every PySpark task calls ``importlib.invalidate_caches()`` in the worker
(``pyspark/worker_util.py:setup_spark_files``).  On Python < 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the ENTIRE zip
central directory unconditionally (``zipimport.py`` 3.11: ``self._files =
_read_directory(self.archive)``), and the worker's ``sys.path`` carries
``pyspark.zip`` (~30 MB, thousands of entries) plus the py4j zip — so
every task burned ~160 ms of pure worker CPU re-parsing zip directories
that never change (median 159.5 ms/task, the single largest per-task cost
in every mapInPandas stage; see OPTIMIZATION_r07.md).

CPython 3.12 fixed exactly this (gh-87382: "zipimport.invalidate_caches
only invalidates when the archive mtime changes").  This module backports
that behavior for the worker processes of THIS engine's sessions: the
re-read is skipped while the archive's ``(size, mtime_ns)`` stat is
unchanged, and still happens when the archive actually changes (the
correctness contract of ``invalidate_caches`` — e.g. ``addPyFile`` of an
updated zip — is preserved).  Scoped via ``spark.python.daemon.module``
(`session.get_spark`), so only this engine's workers see it; the patch is
process-local and forks down to every reused worker.

Before the daemon forks any worker, ``_warm_runtime`` imports the generic
pandas-UDF runtime (numpy, pandas, pyarrow, ``pyspark.worker`` and the
Arrow serializers) and then runs ``gc.collect()`` + ``gc.freeze()``.
Every worker starts with those modules in pages it shares copy-on-write
with the daemon instead of importing them into private pages of its own,
and the frozen objects sit outside every later collection, so a worker's
full ``gc.collect()`` never writes to (and un-shares) them.  The engine's
own modules (``mindocr_spark.*`` beyond this one) are deliberately NOT
pre-imported: a worker loads them from its task's ``sys.path``, so
``--py-files`` and ``addPyFile`` updates still take effect.

The daemon then delegates to the stock ``pyspark.daemon.manager``, with a
quiet EPIPE teardown and a bounded per-task GC.
"""

from __future__ import annotations

import gc
import os
import zipimport

_orig_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (size, mtime_ns) at the time its directory was last read
_archive_stats: dict[str, tuple[int, int]] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    key = _stat_key(self.archive)
    if key is not None and _archive_stats.get(self.archive) == key:
        return  # archive unchanged since the last directory read: no-op
    _orig_invalidate(self)
    if key is not None:
        _archive_stats[self.archive] = key


def _prime() -> None:
    """Run one REAL invalidation per already-cached archive in the daemon
    (pre-fork), so every forked worker inherits a warm memo and pays zero
    zip-directory re-reads per task."""
    import sys

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            _invalidate_if_changed(finder)


def _warm_runtime() -> None:
    """Import the generic pandas-UDF runtime, then freeze everything the
    daemon holds so forked workers share it copy-on-write (module
    docstring). No engine module is imported here."""
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    gc.collect()
    gc.freeze()


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed  # type: ignore[method-assign]


if __name__ == "__main__":
    import pyspark.daemon as _daemon

    # pyspark (and py4j) are now imported, so their zip finders exist:
    # prime the memo pre-fork so every worker inherits it warm
    _prime()

    # teardown quieting: when the JVM dies at spark.stop(), a worker
    # mid-flush sees EPIPE/ECONNRESET and the daemon child prints a
    # traceback (daemon.py catches BaseException around its worker loop).
    # That's the same already-measured-work shutdown window bench.py's
    # _quiet_stop documents on the JVM side; report it as a plain dead
    # worker (exit code 1) instead of stderr noise. Any other exception
    # type still propagates and prints.
    _stock_worker = _daemon.worker

    def _quiet_worker(sock, authenticated):  # type: ignore[no-untyped-def]
        try:
            return _stock_worker(sock, authenticated)
        except (BrokenPipeError, ConnectionResetError):
            return 1

    _daemon.worker = _quiet_worker

    # per-task GC policy: the stock daemon loop runs a FULL gc.collect()
    # after EVERY task — with pandas/pyarrow imported that's a measured
    # 20-35 ms per task of gen-2 object-graph scanning, a large share of
    # the residual inter-task latency. Bound it instead of dropping it:
    # a (free) gen-1 collect per task plus a full collect every 32nd
    # task per worker keeps cycle garbage bounded for long-lived reused
    # workers at ~1/30th the cost. Automatic threshold GC stays active
    # throughout.
    class _BoundedGC:
        def __init__(self) -> None:
            self._n = 0

        def collect(self) -> int:
            self._n += 1
            if self._n % 32 == 0:
                return gc.collect()
            return gc.collect(1)

        def __getattr__(self, name):  # everything else: the real module
            return getattr(gc, name)

    _daemon.gc = _BoundedGC()

    # last step before the first fork: the runtime every worker needs,
    # imported once and frozen out of the bounded GC's full collects
    _warm_runtime()
    _daemon.manager()
