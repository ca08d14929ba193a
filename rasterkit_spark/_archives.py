"""Keep a Python worker's per-task import-cache reset off Spark's own
archives.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  That makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory.  A worker running rasterkit UDFs holds one importer
per imported pyspark subpackage over pyspark.zip (1,328 entries each) and
two over the spark-core jar (5,359 entries, not one ``.py`` among them):
0.13–0.28 s of every task on a 4-core host, against a few ms of UDF work
in a small extract or pyramid task.

Those archives ship with Spark and do not change while a process lives,
so :func:`pin_spark_archives` makes ``invalidate_caches`` a no-op for
importers over them.  The pin sits on the class, keyed by archive path,
so importers created later (a pyspark subpackage first imported by a
later task) are pinned too.  Directory finders and user archives
(``--py-files``, ``SparkContext.addPyFile``: copied under the SparkFiles
root) still reload on every call.  A process with no Spark archive on
``sys.path`` (a pip-installed driver) pins nothing, and one that has them
(a ``spark-submit`` driver) only skips re-reading files that cannot
change.  The first task of each new worker still pays the cost: the
package is imported by the UDF, after that task's reset.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive paths whose importers never reload (``zipimporter.archive``)
_PINNED: set[str] = set()


def _is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return (name == "pyspark.zip"
            or (name.startswith("py4j-") and name.endswith(".zip"))
            or (name.startswith("spark-") and name.endswith(".jar")))


def _user_files_root() -> str | None:
    # set on a worker by setup_spark_files before any UDF is unpickled;
    # never import pyspark from here just to ask
    files = sys.modules.get("pyspark.core.files")
    return getattr(getattr(files, "SparkFiles", None),
                   "_root_directory", None)


def pin_spark_archives() -> None:
    """Add the Spark archives on ``sys.path`` to :data:`_PINNED` and route
    ``zipimporter.invalidate_caches`` through the pin (once per process)."""
    root = _user_files_root()
    _PINNED.update(p for p in sys.path if _is_spark_archive(p)
                   and not (root and p.startswith(root)))
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "pins_spark_archives", False):
        return
    reload = cls.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in _PINNED:
            reload(self)

    invalidate_caches.pins_spark_archives = True
    cls.invalidate_caches = invalidate_caches
