"""The engine's Python worker daemon (``spark.python.daemon.module``).

Spark forks every Python worker from one daemon, and before each task the
worker calls ``importlib.invalidate_caches()`` so that files shipped with
``sc.addPyFile`` become importable. On CPython 3.11 that makes every
``zipimporter`` re-read its archive's central directory: pyspark.zip
(1,328 entries) and the spark-core jar (5,359) once per imported
subpackage, 0.15-0.25 s per task even for a 4-row no-op ``pandas_udf``.

The archives on the daemon's ``sys.path`` at start (pyspark.zip, the py4j
zip, the spark-core jar) do not change for the life of the worker, so
their importers skip the re-read. Every other finder is still invalidated
per task, including any archive ``addPyFile`` ships later. Everything else
is ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def exempt_archives(paths) -> frozenset[str]:
    """Stop ``zipimporter.invalidate_caches`` from re-reading the archives
    in ``paths`` (compared by realpath); returns the exempted set."""
    frozen = frozenset(os.path.realpath(p) for p in paths if os.path.isfile(p))
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if os.path.realpath(self.archive) not in frozen:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return frozen


if __name__ == "__main__":
    exempt_archives(sys.path)
    from pyspark.daemon import manager

    manager()
