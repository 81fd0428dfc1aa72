"""Session builder (plans/session.py): every Python task runs in a
fresh worker, forked from the preloading daemon
``weakscraper_spark._worker_daemon``."""

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
