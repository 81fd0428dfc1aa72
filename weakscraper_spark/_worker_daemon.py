"""PySpark worker daemon that forks every Python worker with the
extraction stack already imported (``spark.python.daemon.module``,
set in ``plans/session.py`` for local masters).

Each task still gets a fresh worker that exits after it, but the fork
inherits pyarrow, the Arrow serializers, the engine and pandas, so no
task pays their import. ``gc.freeze()`` keeps the collector from
touching those objects in the children, so their pages stay shared
copy-on-write. The imports are ones the workers do anyway:
``pyspark.daemon`` pulls in ``pyspark.worker`` and the Arrow
serializers, and the engine stages (``mapInArrow``/``applyInArrow``)
need pyarrow alone. pandas, ``pyarrow.pandas_compat`` and
``pyarrow.vendored.version`` stay for the remaining pandas stages
(``sources.synth``, the streaming state stage, the side operators):
they are what a worker imports on its first Arrow→pandas conversion.

pyspark comes from the driver's own install, not from the
``pyspark.zip`` the JVM puts first on the path. The zip holds sources
only, and ``zipimport`` never writes bytecode, so importing the
preload from it compiled pyspark again on every session start, which
was most of the preload's time. The session passes the directory the
driver imported pyspark from in ``PYTHONPATH``; before its first
import the daemon drops the JVM's ``pyspark.zip`` and
``py4j-*-src.zip`` from ``sys.path`` when both pyspark and py4j
resolve from a directory of that ``PYTHONPATH``. Otherwise (the
driver ran pyspark from a zip, as under ``spark-submit``) they stay
and the daemon imports from them as the stock one does. With the zips
go the ``$SPARK_HOME/jars/*.jar`` entries (spark-core's jar): it holds
no Python module, yet sits ahead of the package root, so the first
import of a module the daemon did not preload made a task build a
``zipimporter`` over its 5,359 entries (27–48 ms each time).

Before forking, the daemon also drops every ``zipimporter`` from
``sys.path_importer_cache`` (a ``pyspark.zip`` or jar left on the
path, the py4j zip). Each task's
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``)
makes every cached ``zipimporter`` re-read its archive's whole central
directory, which was most of a small task's time. Modules already
imported do not need their importer; a later import (a pyspark
submodule not preloaded here, a module from a ``--py-files`` zip)
creates a new one on demand.

The JVM reads the daemon's port from its stdout, so nothing here may
print there.
"""

import fnmatch
import gc
import os
import sys
import zipimport
from importlib.machinery import PathFinder

#: what the JVM puts on every Python worker's path
_SPARK_ARCHIVES = ("*/pyspark.zip", "*/py4j-*-src.zip", "*/jars/*.jar")


def _import_pyspark_from_driver():
    given = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if os.path.isdir(p)]
    if all(PathFinder.find_spec(m, given) for m in ("pyspark", "py4j")):
        sys.path[:] = [p for p in sys.path if not any(
            fnmatch.fnmatch(p, a) for a in _SPARK_ARCHIVES)]


def main():
    _import_pyspark_from_driver()

    import pandas  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
    import pyarrow.vendored.version  # noqa: F401
    from pyspark import daemon

    import weakscraper_spark.enginelib.induce  # noqa: F401
    import weakscraper_spark.operators.extract  # noqa: F401
    import weakscraper_spark.operators.induction  # noqa: F401

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
