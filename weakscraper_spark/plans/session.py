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
  re-reads the archives on the path; a later import makes a new
  importer on demand. The daemon must write nothing to stdout: the
  JVM reads its port from there.
- One daemon per session: the JVM keeps a daemon per worker
  environment, and Spark's SQL Python runners add
  ``SPARK_SIMPLIFIED_TRACEBACK=1`` to theirs
  (``spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled``,
  on by default) while the RDD runner does not. A broadcast of a
  ``createDataFrame(list)`` relation runs RDD Python tasks, so a
  session started two daemons, one after the other. The session sets
  ``spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK=1``, so both carry
  the same environment and share one. A caller who turns that SQL
  conf off still gets simplified worker tracebacks.
- The workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``)
  holds the package root first — this checkout, or the zip the driver
  imported it from — because the JVM starts the daemon by module name
  before any ``--py-files``/``addPyFile`` path reaches ``sys.path``
  (those are added inside each forked worker). After it comes the
  directory the driver imported pyspark from, when that is a
  directory: an installed pyspark holds compiled bytecode, while the
  ``$SPARK_HOME/python/lib/pyspark.zip`` the JVM puts first holds
  sources only, which ``zipimport`` compiles on every start (on 4
  vCPUs the preload took 1.8–1.9 s from the zip and 0.6–0.7 s from
  the install). The daemon drops the JVM's pyspark and py4j zips when
  both packages resolve from that ``PYTHONPATH``; a driver that ran
  pyspark from the zip (``spark-submit``) passes no directory, and
  the daemon imports from the zips as the stock one does. These
  paths only exist on the driver's machine, so other masters keep
  the stock daemon and environment.
- shuffle partitions default to 4× cores locally; on a real cluster
  AQE coalesces from a high initial count instead.
- ``files.maxPartitionBytes`` lowered to 16 MB in local mode: the
  extract stage is map-only and CPU-bound in Python, so input splits
  — not shuffle partitions — set its parallelism; 128 MB default
  splits would underfeed 32 cores on sandbox-sized inputs. (At 100 TB
  the file count dwarfs core count and the 128 MB default is right.)
- The driver JVM starts from a JDK 17 dynamic class-data-sharing
  (AppCDS) archive of the classes a session loads: loading Spark's
  classes was most of a cold start (perfbench ``setup_s`` medians of
  17.6–19.9 s at local[2] on 4 vCPUs fell 30–36% with the
  archive). ``get_spark`` primes it itself: the
  first start that launches a JVM adds ``-XX:ArchiveClassesAtExit``,
  the JVM writes a temp file when it exits, and a later start
  publishes that file only after a probe JVM maps it with every
  checksum verified (an archive cut short aborts the JVM that maps
  it). It lives in ``${XDG_CACHE_HOME:-~/.cache}/weakscraper_spark/``
  (about 176 MB), named by a digest of the JDK (``java``,
  ``libjvm.so``) and of the path, size and mtime of every Spark jar;
  priming a new key deletes the others. Deleting the directory
  re-primes it. Any doubt — no writable cache, a conf dir holding
  more than ``*.template`` files, a caller's own
  ``spark.driver.defaultJavaOptions``, a JVM already running, a
  published file whose size changed — means a plain start.
- Once a local session whose driver JVM ``get_spark`` launched
  exists, a daemon thread runs a one-task no-op ``mapInArrow`` job.
  The JVM then forks the preloading worker daemon (interpreter start
  plus about 0.35 s of imports), and loads and compiles the Arrow
  path that the engine stages take, while the caller still builds its
  registry and plans its first job, not after. RDD and SQL tasks
  share one daemon (above), so the caller's first Python task finds
  it running or waits for the same start. A ``stop()`` that cancels
  the job ends the thread quietly, with nothing on stdout. A start
  that reuses a running JVM (a second ``get_spark``, ``spark-submit``)
  does not run it, nor do other masters.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import threading
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

#: directory (or zip) holding the ``weakscraper_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
#: directory (or zip) the driver imported pyspark from
_PYSPARK_ROOT = os.path.dirname(os.path.dirname(
    os.path.abspath(pyspark.__file__)))


def _local_threads(master: str, cores: int) -> int:
    """Worker threads of a ``local[N]`` or ``local[*]`` master, also in
    Spark's max-failures form ``local[N,F]``/``local[*,F]``."""
    n = master[6:-1].split(",")[0]
    return cores if n == "*" else int(n)


class _Archive(NamedTuple):
    """How to start the driver JVM from a class-data-sharing archive."""
    java_options: str   # for ``spark.driver.defaultJavaOptions``
    conf_dir: str       # ``SPARK_CONF_DIR`` while the JVM is launched
    sidecar: str | None  # a priming start records its JVM here


#: the JVM prints CDS warnings to the stdout it shares with the Python
#: driver, whose last line callers parse; an unusable archive only
#: costs speed
_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: classpath entries other than the conf dir and the jars; JDK 17
#: refuses to dump with a non-empty directory on the classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def _cds_dir() -> str:
    return os.path.join(
        os.environ.get("XDG_CACHE_HOME")
        or os.path.join(os.path.expanduser("~"), ".cache"),
        "weakscraper_spark")


def _java() -> str | None:
    """The ``java`` that ``spark-submit`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return java if java and os.path.isfile(java) else None


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.environ.get("SPARK_HOME") or _find_spark_home()


def _cds_key(java: str, spark_home: str) -> str | None:
    """Archive name for this JDK and jar set: a digest of the path,
    size and mtime of ``java``, ``libjvm.so`` and every Spark jar."""
    real = os.path.realpath(java)
    files = [real, os.path.join(os.path.dirname(os.path.dirname(real)),
                                "lib", "server", "libjvm.so")]
    files += sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    h = hashlib.sha256()
    try:
        for f in files:
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return "spark-" + h.hexdigest()[:16]


def _alive(pid) -> bool:
    try:
        pid = int(pid)
        if pid <= 0:
            return False
        os.kill(pid, 0)
    except (ValueError, TypeError, OverflowError, ProcessLookupError):
        return False
    except PermissionError:
        pass
    return True


def _verify(java: str, archive: str, classpath: str) -> bool:
    """True if a probe JVM maps ``archive`` for ``classpath`` with
    every checksum intact. A truncated archive aborts the JVM that
    maps it (SIGBUS in the checksum), so the probe runs alone, with no
    crash report or core file."""
    try:
        return subprocess.run(
            [java, "-Xshare:on", "-XX:+VerifySharedSpaces",
             "-XX:+SuppressFatalErrorMessage", "-XX:-CreateCoredumpOnCrash",
             f"-XX:SharedArchiveFile={archive}", "-cp", classpath,
             "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=60).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


def _settle(cache: str, key: str, java: str) -> bool:
    """Publish or delete what finished priming starts left in
    ``cache``: ``<key>.<pid>.tmp``, the archive a JVM wrote at exit,
    and ``<key>.<pid>.cp``, the JVM's pid and classpath. A temp file of
    ``key`` becomes ``<key>.jsa`` only if it verifies; every other
    finished one is deleted. True if a JVM priming ``key`` still runs.
    """
    busy = False
    names = set(os.listdir(cache))
    for name in names:
        stem, _, ext = name.rpartition(".")
        if ext not in ("tmp", "cp") or (ext == "tmp" and stem + ".cp" in names):
            continue
        k, _, pid = stem.rpartition(".")
        tmp, side = (os.path.join(cache, stem + e) for e in (".tmp", ".cp"))
        rec = None
        if ext == "cp":
            try:
                with open(side) as fh:
                    rec = json.load(fh)
                pid = rec["pid"]
            except (OSError, ValueError, KeyError, TypeError):
                rec = None
        if _alive(pid):
            busy |= k == key
            continue
        if (k == key and rec and os.path.exists(tmp)
                and _verify(java, tmp, rec.get("cp", ""))):
            with open(os.path.join(cache, key + ".size"), "w") as fh:
                fh.write(str(os.path.getsize(tmp)))
            os.replace(tmp, os.path.join(cache, key + ".jsa"))
        _remove(tmp, side)
    return busy


def _cds_plan(extra_conf: dict[str, str]) -> _Archive | None:
    """Choose the archive options for a start that launches the driver
    JVM, or None to start without one. Publishes a verified temp file
    and deletes stale or suspect ones; touches no conf dir."""
    java = _java()
    if (java is None or "spark.driver.defaultJavaOptions" in extra_conf
            or "spark.driver.extraClassPath" in extra_conf
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)):
        return None
    spark_home = _spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
    except FileNotFoundError:
        pass
    except OSError:
        return None
    key = _cds_key(java, spark_home)
    cache = _cds_dir()
    # the path goes into a whitespace-split option string
    if key is None or any(c.isspace() or c in "\"'\\" for c in cache):
        return None
    empty = os.path.join(cache, "conf")
    jsa, size = (os.path.join(cache, key + e) for e in (".jsa", ".size"))
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK):
            return None
        busy = _settle(cache, key, java)
        if os.path.exists(jsa):
            try:
                with open(size) as fh:
                    ok = int(fh.read()) == os.path.getsize(jsa)
            except (OSError, ValueError):
                ok = False
            if ok:
                return _Archive(f"-XX:SharedArchiveFile={jsa} {_QUIET}",
                                empty, None)
            _remove(jsa, size)
            return None
        if busy:
            return None
        for name in os.listdir(cache):
            if name.endswith((".jsa", ".size")):
                _remove(os.path.join(cache, name))
    except OSError:
        return None
    stem = os.path.join(cache, f"{key}.{os.getpid()}")
    return _Archive(f"-XX:ArchiveClassesAtExit={stem}.tmp {_QUIET}",
                    empty, stem + ".cp")


def _start_worker_daemon(spark: SparkSession) -> None:
    """Run a one-task no-op ``mapInArrow`` job on a daemon thread, so
    the JVM forks the preloading worker daemon, and loads and compiles
    the Arrow path every engine stage takes, while the caller still
    plans its first job. A ``stop()`` that cancels the job ends the
    thread quietly; the first real task then starts the daemon
    itself."""
    def run():
        try:
            spark.range(1, numPartitions=1).mapInArrow(
                lambda batches: batches, "id long").collect()
        except Exception:
            pass

    threading.Thread(target=run, name="worker-daemon-start",
                     daemon=True).start()


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
        # the package root first, so no installed copy shadows it
        path = _PACKAGE_ROOT
        if os.path.isdir(_PYSPARK_ROOT):
            path += os.pathsep + _PYSPARK_ROOT
        builder = (
            builder
            .config("spark.python.daemon.module",
                    "weakscraper_spark._worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", path)
            .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1"))
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    launch = (SparkContext._gateway is None
              and "PYSPARK_GATEWAY_PORT" not in os.environ)
    local_launch = launch and master.startswith("local")
    cds = _cds_plan(extra_conf) if launch else None
    if cds is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.defaultJavaOptions",
                                 cds.java_options)
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
        if cds.sidecar is not None:
            jvm = spark.sparkContext._jvm
            rec = {"pid": jvm.ProcessHandle.current().pid(),
                   "cp": jvm.System.getProperty("java.class.path")}
            try:
                with open(cds.sidecar, "w") as fh:
                    json.dump(rec, fh)
            except OSError:
                pass  # the temp file is then an orphan, deleted later
    spark.sparkContext.setLogLevel("WARN")
    if local_launch:
        _start_worker_daemon(spark)
    return spark
