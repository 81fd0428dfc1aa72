"""SparkSession builder tuned for the extraction workload
(SURVEY.md §5 physical-execution table).

Scale rationale (designed for 1000-executor / 100 TB, tested on
local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting
  ("AQE-tuned shuffle partitioning", BASELINE.json:6).
- Arrow batches into the engine's mapInArrow/applyInArrow stages
  (and the remaining mapInPandas ones); ``maxRecordsPerBatch`` lowered
  because rows carry whole HTML blobs (~2–50 KB) — a 10k-row default
  batch would be hundreds of MB in a Python worker.
- ``spark.python.worker.reuse=false``: one fresh Python worker per
  task. Measured on a 32-core box, the reuse daemon's worker handoff
  serializes under many concurrent local tasks — the same 200k-page
  extract ran 31.0 s with reuse vs 11.6 s without at local[16] (2.7×);
  a fresh worker also drops the heap earlier tasks grew.
- ``spark.python.daemon.module`` is, on local masters, the preloading
  daemon ``weakscraper_spark._worker_daemon``: it imports pyarrow,
  the engine and pandas once, then forks each fresh worker from that
  state, so a task pays a fork instead of ~0.5 s of imports, and the
  preloaded pages stay shared copy-on-write. It also drops its
  ``zipimporter`` entries from ``sys.path_importer_cache`` before
  forking, so a task's ``importlib.invalidate_caches()`` no longer
  re-reads ``pyspark.zip`` and the other archives; a later import
  makes a new importer on demand. The JVM starts the
  daemon by module name before any ``--py-files``/``addPyFile`` path
  reaches ``sys.path`` (those are added inside each forked worker),
  so the session also passes the package root — this checkout, or
  the zip the driver imported it from — as the workers'
  ``PYTHONPATH``. That path only exists on the driver's machine, so
  other masters keep the stock daemon. The daemon must write nothing
  to stdout: the JVM reads its port from there.
- shuffle partitions default to 4× cores locally; on a real cluster
  AQE coalesces from a high initial count instead.
- ``files.maxPartitionBytes`` lowered to 16 MB in local mode: the
  extract stage is map-only and CPU-bound in Python, so input splits
  — not shuffle partitions — set its parallelism; 128 MB default
  splits would underfeed 32 cores on sandbox-sized inputs. (At 100 TB
  the file count dwarfs core count and the 128 MB default is right.)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: directory (or zip) holding the ``weakscraper_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _local_threads(master: str, cores: int) -> int:
    """Worker threads of a ``local[N]`` or ``local[*]`` master, also in
    Spark's max-failures form ``local[N,F]``/``local[*,F]``."""
    n = master[6:-1].split(",")[0]
    return cores if n == "*" else int(n)


def get_spark(app_name: str = "weakscraper_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local["):
            shuffle_partitions = max(4, 4 * _local_threads(master, cores))
        else:
            shuffle_partitions = 4 * cores

    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE inside cached plans (default false): the dedup family
        # persists narrow intermediates (DISK_ONLY signature/band/
        # shingle tables), and with the default every shuffle UNDER a
        # persist is planned at the static shuffle-partition count and
        # the cache itself materializes that many partitions — every
        # downstream stage then runs one task per cached partition.
        # Letting AQE re-plan cached shuffles sizes them by data
        # (advisory bytes), which is the same scale-adaptive rule the
        # rest of the session uses; measured r08: minhash_lsh 6.9 →
        # 0.8 s, dup_components 13 → 2.7 s at sf0.1, neutral on
        # non-persisting queries (cache identity/results unchanged —
        # only partitioning).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Shuffle writer: below this reduce-partition count Spark uses
        # the bypass-merge writer — one FILE per reduce partition per
        # map task. At the session's initial partition count that is
        # ~128 file create/write/close cycles per map task before AQE
        # can coalesce anything (maps × reducers files total, §2.2 of
        # the shuffle-scaling rule). Forcing the serialized sort-based
        # writer (one data+index file per map task) is scale-neutral —
        # it is already the only writer above 200 partitions — and
        # measured r08 it cuts a 96-map-task groupBy's wall 2.6 →
        # 0.47 s at sf0.1.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.python.worker.reuse", "false")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master.startswith("local"):
        builder = (
            builder
            .config("spark.python.daemon.module",
                    "weakscraper_spark._worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
