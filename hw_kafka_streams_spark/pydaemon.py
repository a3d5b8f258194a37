"""Python worker daemon that does not re-read unchanged zip archives.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, which on Python 3.11 makes each ``zipimport.zipimporter``
re-read its whole archive directory: ~0.2 s per task for the importers
of ``pyspark.zip``. Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` stamp differs from the one at its last read.
``session.get_spark`` sets this module as ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if its stamp changed since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_graft_stamp", None):
        # stamped before the read, so a write racing it re-reads next time
        self._graft_stamp = stamp
        _reread(self)


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
