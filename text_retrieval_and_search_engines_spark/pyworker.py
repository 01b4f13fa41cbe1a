"""The engine's PySpark daemon: stock ``pyspark.daemon`` minus two fixed
per-task costs (measured in session.py's docstring).

``session.session_builder`` names this module in
``spark.python.daemon.module``.  Both changes are made once, in the daemon,
before it forks any worker:

* the worker calls ``importlib.invalidate_caches()`` on every task, which
  makes each cached ``zipimporter`` re-read its whole archive directory.
  The archives Spark's own already-imported packages came from cannot
  change while the daemon runs, so their importers skip the re-read; any
  other archive (``addPyFile``, ``--py-files``) keeps CPython's behaviour.
* the JVM's small first writes on the loopback TCP socket stall on Nagle
  against the worker's delayed ACK; the accepted socket gets
  ``TCP_NODELAY`` and ``TCP_QUICKACK`` where the platform has them.
"""

from __future__ import annotations

import socket
import sys
import zipimport

# Spark's own Python on the worker path: pyspark and py4j, plus the
# namespace package ``org`` that the spark-core jar on that path provides
# (stdlib ``copy`` probes the Jython-only ``org.python.core`` on import)
SPARK_PACKAGES = ("pyspark", "py4j", "org")


def freeze_archives(*packages: str) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for the archives the
    already-imported `packages` came from, found through the import system
    (each ``__path__`` entry's cached ``zipimporter``, so namespace packages
    count too)."""
    frozen = set()
    for name in packages:
        for loc in getattr(sys.modules.get(name), "__path__", ()):
            finder = sys.path_importer_cache.get(loc)
            if isinstance(finder, zipimport.zipimporter):
                frozen.add(finder.archive)
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in frozen:
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def no_delay(worker):
    """Wrap a daemon ``worker(sock, authenticated)`` so a TCP socket sends
    and acknowledges small messages at once."""
    opts = [getattr(socket, o) for o in ("TCP_NODELAY", "TCP_QUICKACK")
            if hasattr(socket, o)]

    def wrapped(sock, authenticated):
        if sock.family in (socket.AF_INET, socket.AF_INET6):
            for opt in opts:
                sock.setsockopt(socket.IPPROTO_TCP, opt, 1)
        return worker(sock, authenticated)

    return wrapped


if __name__ == "__main__":
    from pyspark import daemon
    freeze_archives(*SPARK_PACKAGES)
    daemon.worker = no_delay(daemon.worker)
    daemon.manager()
