"""Stop Python workers from re-reading zip archives on every Spark task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py::setup_spark_files``), so that files shipped
with ``addPyFile`` / ``--py-files`` become importable.  On CPython 3.10-3.12
that call makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory.  A worker that imports
pyspark from ``pyspark.zip`` holds one such importer per imported pyspark
subpackage (each re-parsing 1 328 entries), plus one over py4j's zip and one
over the 5.4k-entry ``spark-core`` jar: about 0.25 s of CPU per task on a
4-core x86 host, for a task whose own work may take a few milliseconds.

:class:`GatedZipImporter` re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since the last read, so an
unchanged archive costs one ``os.stat`` per importer and a rewritten one is
still re-read.  :func:`install` puts it in place, and only inside a Spark
task: the driver's import system is left alone.  Directory finders
(``FileFinder``) are not touched.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Archive path -> (stat stamp taken before the read, the directory read).
# Shared by every gated importer over one archive, so a changed archive is
# read once rather than once per importer.  It is process-wide because the
# import state it gates (``sys.path_importer_cache``) is.
_directories: dict[str, tuple[tuple[int, int, int] | None, dict]] = {}


class GatedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads the archive
    only when the archive changed on disk since it was last read."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None  # gone: the stock re-read below empties the directory
        seen = _directories.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        super().invalidate_caches()
        _directories[self.archive] = (stamp, self._files)


def install() -> None:
    """Gate zip-archive invalidation in this process; a no-op outside a
    Spark task, on CPython 3.13+ and when already installed.

    Puts :class:`GatedZipImporter` in place of ``zipimport.zipimporter`` in
    ``sys.path_hooks`` and turns every plain ``zipimporter`` already in
    ``sys.path_importer_cache`` into one.  The cached importers change class
    in place rather than being replaced, so the modules already loaded from
    them keep loaders whose directories stay current.  Each of them is then
    invalidated once: every archive is read once here, after its stamp is
    taken, so no directory is trusted that may be older than its stamp.
    """
    # CPython 3.13 made the stock call lazy: it drops the archive's shared
    # directory, which the next lookup reads once.  Gate only the eager one.
    # A Python worker imports pyspark before it runs any task, so a process
    # without ``pyspark.taskcontext`` loaded is not in one.
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if sys.version_info >= (3, 13) or taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    sys.path_hooks[:] = [
        GatedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = GatedZipImporter
            finder.invalidate_caches()
