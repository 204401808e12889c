"""Frozen zip finders in the PySpark Python worker.

The worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). On interpreters whose
``zipimport.zipimporter.invalidate_caches`` re-reads its archive eagerly
(CPython 3.11 and earlier), every cached zip finder then parses the
whole central directory of its zip again. A reused worker holds one such
finder per package directory imported from ``pyspark.zip`` (1,328
entries), 16 once a gamr kernel has run, so each Arrow task paid about
0.2 s of directory reads before touching its data.

``freeze_zip_finders`` swaps in a zip finder that keeps the directory it
read: the finders already in ``sys.path_importer_cache`` change class,
and the ``zipimport.zipimporter`` path hook is replaced by the frozen
class, so finders made later read their archive once, when they are
made. Archives already on the path (Spark's own install) do not change
while a worker lives, and a ``pyFiles`` zip that first appears on
``sys.path`` after the freeze still gets a new finder. The package
``__init__`` calls it, and every kernel closure imports the package, so
a reused worker pays the re-reads on its first task only. It does
nothing outside a worker and nothing where invalidation is already cheap
(an interpreter whose ``invalidate_caches`` does not re-read).
"""

from __future__ import annotations

import sys
import zipimport


class _FrozenZipImporter(zipimport.zipimporter):
    """A zip finder whose ``invalidate_caches`` keeps its directory."""

    def invalidate_caches(self):
        pass


def invalidation_rereads() -> bool:
    """True when ``zipimporter.invalidate_caches`` re-reads the archive."""
    code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def _in_worker() -> bool:
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)


def freeze_zip_finders() -> None:
    if not (_in_worker() and invalidation_rereads()):
        return
    hooks = sys.path_hooks
    for i, hook in enumerate(hooks):
        if hook is zipimport.zipimporter:
            hooks[i] = _FrozenZipImporter
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = _FrozenZipImporter
