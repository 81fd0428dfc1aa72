"""Session builder (plans/session.py): every Python task runs in a
fresh worker, forked from the preloading daemon
``weakscraper_spark._worker_daemon``, which a local session starts
before the caller's first action; the driver JVM starts from a
class-data-sharing archive that only a verified temp file becomes."""

import json
import os
import subprocess
import sys

import pytest

from weakscraper_spark.plans import session

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
    a task's ``importlib.invalidate_caches()`` re-reads no archive, and
    Spark's ``jars/*.jar`` entries (no Python module inside) are off
    the path, so a late import scans no jar's whole directory."""
    def zip_importers(batches):
        import sys
        import zipimport

        import pandas as pd

        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        jars = ",".join(p for p in sys.path if p.endswith(".jar"))
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [n], "jars": [jars]})

    row = _one_task(spark, zip_importers, "n long, jars string")
    assert (row["n"], row["jars"]) == (0, "")


def test_task_imports_pyspark_submodule_not_preloaded(spark):
    """With the daemon's importers dropped, a pyspark module the daemon
    never imported still loads, from wherever pyspark came from."""
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


def test_rdd_and_sql_tasks_share_one_daemon(spark):
    """RDD and SQL Python tasks carry the same worker environment, so
    the JVM forks both from one daemon and starts it once."""
    import pyarrow as pa

    def daemon_pid(batches):
        import os

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getppid()]})

    rdd = (spark.sparkContext.parallelize([0], 1)
           .map(lambda _: os.getppid()).collect())
    sql = (spark.range(1, numPartitions=1)
           .mapInArrow(daemon_pid, "pid long").collect())
    assert rdd == [sql[0]["pid"]]


def test_workers_import_the_drivers_pyspark(spark):
    """A driver whose pyspark is a compiled install on disk hands it to
    the workers; nothing they hold comes from ``pyspark.zip``."""
    import pyspark

    if not os.path.isfile(pyspark.__file__):
        pytest.skip("the driver imported pyspark from a zip")

    def origins(batches):
        import sys

        import pyspark
        import pyarrow as pa

        for _ in batches:
            pass
        zipped = sorted(n for n, m in list(sys.modules.items())
                        if "pyspark.zip" in (getattr(m, "__file__", None)
                                             or ""))
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__],
                                          "zipped": [",".join(zipped)]})

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(origins, "file string, zipped string").collect()[0])
    assert row["file"] == pyspark.__file__
    assert row["zipped"] == ""


@pytest.mark.parametrize("packages, kept", [
    (("pyspark", "py4j"), False),   # both in PYTHONPATH: zips dropped
    (("pyspark",), True),           # py4j only in its zip: both kept
    ((), True),                     # a driver that ran from the zip
])
def test_daemon_drops_spark_zips_only_when_pyspark_is_given(
        tmp_path, monkeypatch, packages, kept):
    from weakscraper_spark._worker_daemon import _import_pyspark_from_driver

    for name in packages:
        (tmp_path / name).mkdir()
        (tmp_path / name / "__init__.py").write_text("")
    zips = ["/spark/python/lib/pyspark.zip",
            "/spark/python/lib/py4j-0.10.9.9-src.zip",
            "/spark/jars/spark-core_2.13-4.1.2.jar"]
    path = ["/cwd", *zips, str(tmp_path), "/stdlib"]
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(zips + [str(tmp_path)]))
    monkeypatch.setattr(sys, "path", list(path))
    _import_pyspark_from_driver()
    assert sys.path == (path if kept else ["/cwd", str(tmp_path), "/stdlib"])


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


# ---- the driver JVM's class-data-sharing archive --------------------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A temp cache and a conf dir holding only a template; returns
    (cache dir, conf dir, archive key)."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in session._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    java = session._java()
    if java is None:
        pytest.skip("no java")
    key = session._cds_key(java, session._spark_home())
    return str(tmp_path / "xdg" / "weakscraper_spark"), str(conf), key


@pytest.fixture(scope="module")
def primed(tmp_path_factory):
    """A real (small) dynamic archive, dumped by a ``java -version``;
    returns (archive path, the classpath it was dumped for)."""
    java = session._java()
    if java is None:
        pytest.skip("no java")
    d = tmp_path_factory.mktemp("primed")
    cp = d / "cp"
    cp.mkdir()
    jsa = d / "primed.jsa"
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={jsa}", "-cp", str(cp),
                    "-version"], check=True, capture_output=True, timeout=120)
    assert session._verify(java, str(jsa), str(cp))
    return jsa, str(cp)


def test_cds_plan_miss_then_hit(cds_env):
    cache, conf, key = cds_env
    os.makedirs(cache)
    stale = [os.path.join(cache, "spark-0123456789abcdef" + e)
             for e in (".jsa", ".size")]
    for f in stale:
        open(f, "w").close()

    miss = session._cds_plan({})
    stem = os.path.join(cache, f"{key}.{os.getpid()}")
    assert miss.java_options.split() == [
        f"-XX:ArchiveClassesAtExit={stem}.tmp", "-Xlog:cds=off",
        "-Xlog:cds+dynamic=off"]
    assert miss.sidecar == stem + ".cp"
    assert miss.conf_dir == os.path.join(cache, "conf")
    assert os.listdir(miss.conf_dir) == []
    assert not any(map(os.path.exists, stale))  # another key's archive
    assert os.environ["SPARK_CONF_DIR"] == conf

    jsa = os.path.join(cache, key + ".jsa")
    with open(jsa, "wb") as fh:
        fh.write(b"x" * 10)
    with open(os.path.join(cache, key + ".size"), "w") as fh:
        fh.write("10")
    hit = session._cds_plan({})
    assert hit.java_options.split()[0] == f"-XX:SharedArchiveFile={jsa}"
    assert hit.sidecar is None and hit.conf_dir == miss.conf_dir

    # a published archive whose size changed is deleted, not mapped
    with open(jsa, "ab") as fh:
        fh.write(b"y")
    assert session._cds_plan({}) is None
    assert not os.path.exists(jsa)


def test_cds_plan_leaves_a_real_conf_dir_alone(cds_env):
    cache, conf, _ = cds_env
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.foo bar\n")
    assert session._cds_plan({}) is None
    assert sorted(os.listdir(conf)) == ["spark-defaults.conf",
                                        "spark-defaults.conf.template"]
    assert os.environ["SPARK_CONF_DIR"] == conf
    assert not os.path.exists(cache)


def test_cds_plan_yields_to_caller_java_options(cds_env):
    cache, conf, _ = cds_env
    assert session._cds_plan(
        {"spark.driver.defaultJavaOptions": "-Dx=1"}) is None
    assert os.listdir(conf) == ["spark-defaults.conf.template"]
    assert os.environ["SPARK_CONF_DIR"] == conf
    assert not os.path.exists(cache)


def _fresh_session(cwd, code, extra_conf=None):
    """Run ``code`` in a new interpreter right after its
    ``s = get_spark(...)`` launched a local driver JVM; returns the
    finished process, which must have exited 0."""
    code = ("from weakscraper_spark.plans.session import get_spark\n"
            f"s = get_spark('fresh', master='local[1]',"
            f" extra_conf={extra_conf!r})\n" + code)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, env=env, cwd=str(cwd), timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc


def _leave_primed(cache, stem, data, cp, pid):
    """What a priming start leaves: the temp archive and its sidecar."""
    with open(os.path.join(cache, stem + ".tmp"), "wb") as fh:
        fh.write(data)
    with open(os.path.join(cache, stem + ".cp"), "w") as fh:
        json.dump({"pid": pid, "cp": cp}, fh)


def test_only_a_verified_archive_is_published(tmp_path, primed):
    jsa, cp = primed
    java = session._java()
    good = jsa.read_bytes()
    flipped = bytearray(good)
    flipped[len(good) // 2] ^= 0x10
    dead = subprocess.Popen(["true"])  # a writer pid that is gone
    dead.wait()
    cache = str(tmp_path)
    for bad in (os.urandom(len(good)), good[:len(good) // 2],
                bytes(flipped)):
        _leave_primed(cache, f"k.{dead.pid}", bad, cp, dead.pid)
        assert session._settle(cache, "k", java) is False
        assert os.listdir(cache) == []

    # a writer still running is left alone and reported busy
    _leave_primed(cache, f"k.{dead.pid}", good, cp, os.getpid())
    assert session._settle(cache, "k", java) is True
    assert len(os.listdir(cache)) == 2

    _leave_primed(cache, f"k.{dead.pid}", good, cp, dead.pid)
    _leave_primed(cache, f"other.{dead.pid}", good, cp, dead.pid)
    assert session._settle(cache, "k", java) is False
    assert sorted(os.listdir(cache)) == ["k.jsa", "k.size"]
    assert (tmp_path / "k.jsa").read_bytes() == good
    assert (tmp_path / "k.size").read_text() == str(len(good))


def test_session_starts_past_a_truncated_archive(tmp_path, cds_env,
                                                 primed):
    """A published archive cut short aborts any JVM that maps it: the
    session must notice, delete it and start without it."""
    cache, _, key = cds_env
    good = primed[0].read_bytes()
    os.makedirs(cache)
    jsa = os.path.join(cache, key + ".jsa")
    with open(jsa, "wb") as fh:
        fh.write(good[:len(good) // 2])
    with open(os.path.join(cache, key + ".size"), "w") as fh:
        fh.write(str(len(good)))
    proc = _fresh_session(tmp_path, (
        "args = s._jvm.java.lang.management.ManagementFactory"
        ".getRuntimeMXBean().getInputArguments()\n"
        "print(sum('SharedArchive' in a for a in args),"
        " s.range(10).count())\n"))
    assert proc.stdout.splitlines()[-1] == "0 10"
    assert not os.path.exists(jsa)


def test_driver_jvm_starts_from_the_archive(spark):
    """The session fixture's JVM either maps the published archive or
    primes it."""
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    named = [a.split("=", 1)[1] for a in args
             if a.startswith(("-XX:SharedArchiveFile=",
                              "-XX:ArchiveClassesAtExit="))]
    assert len(named) == 1, args
    assert os.path.dirname(named[0]) == session._cds_dir()


def test_caller_java_options_get_no_archive(tmp_path, cds_env):
    """Java options the caller passes are the driver's whole
    ``spark.driver.defaultJavaOptions``: no archive joins them."""
    cache, _, _ = cds_env
    mine = "-Dweakscraper.caller=1"
    proc = _fresh_session(tmp_path, (
        "import json\n"
        "print(json.dumps(list(s._jvm.java.lang.management"
        ".ManagementFactory.getRuntimeMXBean().getInputArguments())))\n"
        ), {"spark.driver.defaultJavaOptions": mine})
    args = json.loads(proc.stdout.splitlines()[-1])
    assert mine in args
    assert not [a for a in args if a.startswith(
        ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))], args
    assert not os.path.exists(cache)


def test_worker_daemon_starts_before_the_first_action(tmp_path):
    """Right after ``get_spark`` returns, with no action from the
    caller, the JVM forks the preloading daemon."""
    proc = _fresh_session(tmp_path, (
        "import os, time\n"
        "jvm = s._jvm.java.lang.ProcessHandle.current().pid()\n"
        "def daemons():\n"
        "    found = []\n"
        "    for pid in filter(str.isdigit, os.listdir('/proc')):\n"
        "        try:\n"
        "            with open(f'/proc/{pid}/stat') as fh:\n"
        "                stat = fh.read()\n"
        "            with open(f'/proc/{pid}/cmdline', 'rb') as fh:\n"
        "                cmd = fh.read()\n"
        "        except OSError:\n"
        "            continue\n"
        "        ppid = int(stat[stat.rindex(')') + 2:].split()[1])\n"
        f"        if ppid == jvm and {DAEMON.encode()!r} in cmd:\n"
        "            found.append(pid)\n"
        "    return found\n"
        "deadline = time.monotonic() + 60\n"
        "while not daemons() and time.monotonic() < deadline:\n"
        "    time.sleep(0.05)\n"
        "print(len(daemons()))\n"))
    assert proc.stdout.splitlines()[-1] == "1"


def test_stop_right_after_start_is_quiet(tmp_path):
    """A ``stop()`` that cancels the session's daemon-start job neither
    fails the caller nor writes to its stdout."""
    proc = _fresh_session(tmp_path, "s.stop()\nprint('caller done')\n")
    assert proc.stdout.splitlines()[-1] == "caller done"
