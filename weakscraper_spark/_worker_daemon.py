"""PySpark worker daemon that forks every Python worker with the
extraction stack already imported (``spark.python.daemon.module``,
set in ``plans/session.py`` for local masters).

Each task still gets a fresh worker that exits after it, but the fork
inherits pandas, pyarrow, the Arrow serializers and the engine, so no
task pays their import. ``gc.freeze()`` keeps the collector from
touching those objects in the children, so their pages stay shared
copy-on-write. The imports are ones every worker does anyway:
``pyspark.daemon`` pulls in ``pyspark.worker`` and the Arrow
serializers, the engine modules pull in pandas, and
``pyarrow.pandas_compat`` (which imports pyarrow) is what a worker
imports on its first Arrow→pandas conversion.

The JVM reads the daemon's port from its stdout, so nothing here may
print there.
"""

import gc

import pyarrow.pandas_compat  # noqa: F401
from pyspark import daemon

import weakscraper_spark.enginelib.induce  # noqa: F401
import weakscraper_spark.operators.extract  # noqa: F401
import weakscraper_spark.operators.induction  # noqa: F401

if __name__ == "__main__":
    gc.freeze()
    daemon.manager()
