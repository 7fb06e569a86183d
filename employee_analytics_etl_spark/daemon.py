"""Python worker daemon: PySpark's own, minus the per-task zip re-reads.

``session.build_session`` sets ``spark.python.daemon.module`` to this
module, so every executor forks its Python workers from here.

Before each task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). CPython's
``zipimporter.invalidate_caches`` re-parses the whole central directory
of its archive in pure Python, and a worker's ``sys.path`` holds three
archives: ``pyspark.zip`` (~1,300 entries), the py4j zip and the Spark
core jar (~5,400 entries), reached through ~16 importers. That re-read
cost ~0.2 s per task on a 4-CPU VM, whatever the task computed.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the one seen at its last
read. A zip that was added or rewritten is still read afresh, and every
other finder (directory finders included) is still invalidated.
"""

from __future__ import annotations

import importlib
import os
import zipimport
from collections.abc import Callable


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def skip_unchanged(
    reread: Callable[[zipimport.zipimporter], None],
) -> Callable[[zipimport.zipimporter], None]:
    """Wrap ``zipimporter.invalidate_caches`` (``reread``) so that it runs
    only when the importer's archive changed since its last read.

    All importers over one archive share the stamp and, as with
    ``reread`` itself, the directory in ``zipimport._zip_directory_cache``.
    """
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        # stat before reading: a rewrite racing the read leaves the old
        # stamp behind, so the next call reads again
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter`` and read each archive on ``sys.path`` once,
    here in the daemon, so that forked workers start with every stamp."""
    zipimport.zipimporter.invalidate_caches = skip_unchanged(
        zipimport.zipimporter.invalidate_caches
    )
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
