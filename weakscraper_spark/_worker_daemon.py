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

Before forking, the daemon drops every ``zipimporter`` from
``sys.path_importer_cache`` (``pyspark.zip`` and its subpackage paths,
the py4j zip, a spark-core jar). Each task's
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``)
makes every cached ``zipimporter`` re-read its archive's whole central
directory, which was most of a small task's time. Modules already
imported do not need their importer; a later import (a pyspark
submodule not preloaded here, a module from a ``--py-files`` zip)
creates a new one on demand.

The JVM reads the daemon's port from its stdout, so nothing here may
print there.
"""

import gc
import sys
import zipimport

import pandas  # noqa: F401
import pyarrow.pandas_compat  # noqa: F401
import pyarrow.vendored.version  # noqa: F401
from pyspark import daemon

import weakscraper_spark.enginelib.induce  # noqa: F401
import weakscraper_spark.operators.extract  # noqa: F401
import weakscraper_spark.operators.induction  # noqa: F401

if __name__ == "__main__":
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    gc.freeze()
    daemon.manager()
