"""PySpark worker daemon that keeps zip imports cheap on Python < 3.13.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's central
directory, and a worker holds one per package directory it imported from
``pyspark.zip``: ~27k entries, ~0.25 s of CPU per task. ``install`` makes an
importer re-read its archive only when the archive's ``(st_mtime_ns,
st_size)`` differs from the stamp of its last read, or ``stat`` fails (the
staleness test ``FileFinder`` uses for directories), so a changed or new
archive still becomes visible. Run as ``spark.python.daemon.module`` (see
``session.get_spark``); the daemon installs it before forking any worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have not
    changed since the importer last read them."""
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            original(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    from pyspark import daemon  # imports pyspark.worker and its zip importers

    if sys.version_info < (3, 13):
        install()
        importlib.invalidate_caches()  # stamp them once, before the forks
    daemon.manager()


if __name__ == "__main__":
    # run from the imported module, not __main__, so the patched method
    # names its real module
    from ksana_corpus_builder_spark import pyworker

    pyworker.main()
