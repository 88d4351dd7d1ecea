"""Python worker daemon for engine sessions (`spark.python.daemon.module`).

Spark forks every Python worker of a `session.get_spark` session from this
module instead of `pyspark.daemon`. It differs in one thing: a zip importer
re-reads its archive's directory only when the archive changed.

Before every Python task, PySpark's worker calls
`importlib.invalidate_caches()` (`worker_util.setup_spark_files`). On
Python 3.11 that makes each `zipimport.zipimporter` on the worker's path
re-read its whole archive directory: pyspark.zip (one importer per package
directory), the py4j zip and the spark-core jar. That is 100-185 ms per task
for tasks whose own work takes a few milliseconds. Here an importer records
its archive's `(st_mtime_ns, st_size)` when it reads the directory and skips
the re-read while the archive still has that signature. The per-task call
stays, so directory finders are still invalidated and a zip shipped later
with `addPyFile` still imports. Python 3.12 made zip invalidation lazy
upstream; the patch is harmless there.

Every worker is forked from this process, so importing this module loads
only the standard library; `pyspark.daemon` is imported when it runs.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches`, skipped while the archive is
    unchanged since this importer last read its directory."""
    sig = _signature(self.archive)
    if sig is not None and sig == getattr(self, "_archive_signature", None):
        return
    _read_archive(self)
    self._archive_signature = sig


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    # sign the daemon's own importers once, so a forked worker's first task
    # skips the re-read as well
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
