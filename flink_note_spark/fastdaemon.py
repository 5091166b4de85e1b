"""Python-worker daemon with a change-guarded ``invalidate_caches``.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``) so that py-files added while the
application runs become importable by later tasks. CPython's
pure-Python ``zipimport`` (3.8+) implements
``zipimporter.invalidate_caches()`` as an UNCONDITIONAL re-read of the
archive's central directory; with ``pyspark.zip`` (~15 MB, thousands
of entries) on every worker's ``sys.path`` that re-read was measured
at ~70–90 ms per call on this box — the dominant term of a
~150–210 ms fixed overhead paid by EVERY Python-stage task, batch or
streaming, regardless of row count (guide §4: the JVM↔Python boundary
is the expensive part; here the cost was not even data movement).

This module is selected via ``spark.python.daemon.module``
(``session.get_spark`` sets it for local masters) and patches
``zipimporter.invalidate_caches`` with a stat guard BEFORE delegating
to the stock ``pyspark.daemon``: the archive directory is re-read only
when the zip's ``(mtime_ns, size)`` changed since the last read — the
same freshness rule CPython's own ``FileFinder`` applies to directory
entries. An archive that IS replaced mid-application (a new py-files
upload) still invalidates correctly because its stat changes; an
archive rewritten in-place within one mtime tick at identical size is
the same blind spot ``FileFinder`` already has. Everything else —
fork/reuse protocol, signals, socket handling — is byte-identical to
``pyspark.daemon`` (imported and executed, not copied).

Cluster note: on a non-local master the conf is NOT set by default
because the daemon module must be importable by executor-side Python
(ship the package with ``--py-files`` and set
``spark.python.daemon.module=flink_note_spark.fastdaemon`` explicitly
to get the same per-task saving there).
"""

from __future__ import annotations

import os
import sys  # noqa: F401 — pyspark.daemon reads sys.argv at import time
import zipimport

# zipimporter.invalidate_caches exists from Python 3.10 on; without it
# importlib.invalidate_caches() never re-reads archives, so there is
# nothing to guard and the stock daemon behaviour is kept.
_orig_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and getattr(self, "_graft_zip_stat", None) == key:
        return
    _orig_invalidate(self)
    if key is not None:
        self._graft_zip_stat = key


if _orig_invalidate is not None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

# Import AFTER the patch so every worker forked by the daemon inherits
# it. pyspark/daemon.py resolves the worker module from sys.argv at
# import time — the JVM launches ``python -m flink_note_spark.fastdaemon
# pyspark.worker``, exactly as it would launch the stock daemon.
from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
