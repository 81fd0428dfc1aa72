"""Session builder (plans/session.py): every Python task runs in a
fresh worker, forked from the preloading daemon
``weakscraper_spark._worker_daemon``."""

import pytest

DAEMON = "weakscraper_spark._worker_daemon"


def test_tasks_fork_fresh_workers_from_preloading_daemon(spark):
    def worker_info(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            cmdline = fh.read().split(b"\0")
        yield pd.DataFrame({"pid": [os.getpid()],
                            "daemon": [DAEMON.encode() in cmdline]})

    one_task = spark.range(1, numPartitions=1)
    # two jobs in a row: a reused worker would serve both tasks
    runs = [one_task.mapInPandas(worker_info, "pid long, daemon boolean")
            .collect()[0] for _ in range(2)]
    assert all(r["daemon"] for r in runs)
    assert runs[0]["pid"] != runs[1]["pid"]
    assert spark.conf.get("spark.python.worker.reuse") == "false"


def _one_task(spark, fn, schema):
    return (spark.range(1, numPartitions=1).mapInPandas(fn, schema)
            .collect()[0])


def test_task_starts_with_no_zip_importer(spark):
    """The daemon drops its ``zipimporter`` entries before forking, so
    a task's ``importlib.invalidate_caches()`` re-reads no archive."""
    def zip_importers(batches):
        import sys
        import zipimport

        import pandas as pd

        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [n]})

    assert _one_task(spark, zip_importers, "n long")["n"] == 0


def test_task_imports_pyspark_submodule_not_preloaded(spark):
    """With the daemon's importers dropped, a module from
    ``pyspark.zip`` the daemon never imported still loads."""
    def import_late(batches):
        import importlib
        import sys

        import pandas as pd

        for _ in batches:
            pass
        preloaded = "pyspark.ml.linalg" in sys.modules
        importlib.import_module("pyspark.ml.linalg")  # raises if it fails
        yield pd.DataFrame({"preloaded": [preloaded]})

    assert not _one_task(spark, import_late, "preloaded boolean")["preloaded"]


@pytest.mark.parametrize("arrow_map", ["mapInPandas", "mapInArrow"])
def test_arrow_input_imports_no_module(spark, arrow_map):
    """Everything the first Arrow batch needs is preloaded, whether the
    stage reads it as pandas frames or as Arrow record batches."""
    def new_modules(batches):
        import sys

        import pyarrow as pa

        before = set(sys.modules)
        for _ in batches:
            pass
        new = ",".join(sorted(set(sys.modules) - before))
        if arrow_map == "mapInArrow":
            yield pa.RecordBatch.from_pydict({"new": [new]})
        else:
            import pandas as pd

            yield pd.DataFrame({"new": [new]})

    df = spark.range(1, numPartitions=1)
    out = getattr(df, arrow_map)(new_modules, "new string").collect()
    assert out[0]["new"] == ""


def test_local_master_threads_parse():
    from weakscraper_spark.plans.session import _local_threads

    assert _local_threads("local[3]", 8) == 3
    assert _local_threads("local[*]", 8) == 8
    assert _local_threads("local[4,2]", 8) == 4
    assert _local_threads("local[*,3]", 8) == 8
