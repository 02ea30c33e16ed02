"""Spark's Python daemon, minus the per-task re-read of zip archives.

``pyspark/worker_util.py:144`` (``setup_spark_files``) calls
``importlib.invalidate_caches()`` at the start of every task.  On Python
3.10+ that makes each ``zipimporter`` on ``sys.path`` re-read its whole
archive (``pyspark.zip`` has 1,328 entries): about half of a reused
worker's ~0.2 s per-task floor on a 4-core box.  Here an archive is re-read only when
its mtime or size changed; a newly added pyFile is a new ``sys.path``
entry with its own importer, so it is still seen.  ``session.py`` names
this module in ``spark.python.daemon.module``.
"""

import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    daemon.manager()
