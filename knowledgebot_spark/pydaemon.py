"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  On Python 3.11 that makes each cached ``zipimporter`` re-read
the whole central directory of its archive, and a worker holds about 16 of
them over the 1,300-file ``pyspark.zip``: some 200 ms of CPU per task
before any row is touched.  This daemon makes the call re-read an archive
only when its ``(st_size, st_mtime_ns)`` has changed since it was last
read, then runs PySpark's own daemon.  Every zipimporter of one archive
shares that one read.

With that read gone, a Python task costs about what a JVM task does.  The
session connects the workers to the JVM over a Unix domain socket, which
``daemon.manager()`` picks up from ``PYTHON_UNIX_DOMAIN_ENABLED``.  On a
4-core host (``local[4]``), a one-slice ``parallelize(...).map`` job took
27 ms at the median and a JVM-only ``spark.range(1).collect()`` 35 ms.  A
one-row query frame, with four Python tasks, took 63 ms.  Over loopback TCP
the same jobs took 69, 32 and 103 ms: the Python jobs waited about 40 ms on
the JVM side of the socket.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> ((st_size, st_mtime_ns) taken before the read, directory read);
# process-wide, like zipimport's own directory cache
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:  # replaced or removed: let the stock method decide
        _directories.pop(self.archive, None)
        return _reread(self)
    stamp = (st.st_size, st.st_mtime_ns)
    seen = _directories.get(self.archive)
    if seen is None or seen[0] != stamp:
        _reread(self)
        seen = _directories[self.archive] = (stamp, self._files)
    self._files = seen[1]


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
