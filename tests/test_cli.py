"""CLI ring: the ``spark-submit``-shaped entrypoint
(``python -m weakscraper_spark``) driven as a real subprocess —
synth → extract (heuristic fallback) → resume re-run → report.
This is the surface BASELINE.json's "submitted via spark-submit
--py-files" names; each step must print machine-readable JSON."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args: str) -> list[dict]:
    env = dict(os.environ, PYTHONPATH=REPO,
               SPARK_GRAFT_MASTER="local[4]")
    proc = subprocess.run(
        [sys.executable, "-m", "weakscraper_spark", *args],
        capture_output=True, text=True, cwd=REPO, env=env,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return [json.loads(ln) for ln in proc.stdout.splitlines()
            if ln.startswith("{")]


@pytest.mark.slow
def test_cli_synth_extract_resume_report(tmp_path):
    pages = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")

    out = _run("synth", "--out", pages, "--pages", "200")
    assert out[-1]["pages"] == 200

    r1 = _run("extract", "--pages", pages, "--out", sink,
              "--run-id", "r1", "--fallback", "heuristic")[-1]
    assert r1["rows_written"] > 0
    assert r1["ok_written"] > 0

    # resume: identical input, new run id → 0-row increment
    r2 = _run("extract", "--pages", pages, "--out", sink,
              "--run-id", "r2", "--fallback", "heuristic")[-1]
    assert r2["rows_written"] == 0

    rep = _run("report", "--sink", sink, "--k", "5")
    assert 0 < len(rep) <= 5
    assert all("fail_rate" in row for row in rep)


@pytest.mark.slow
def test_spark_submit_py_files_zip_outside_repo(tmp_path):
    """The documented deployment: the package shipped only as a
    ``--py-files`` zip, submitted from outside the checkout with no
    PYTHONPATH. Python workers (and the daemon they fork from) must
    still import the engine."""
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    pkg_zip = str(tmp_path / "weakscraper_spark.zip")
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for root, dirs, files in os.walk(os.path.join(REPO,
                                                      "weakscraper_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                path = os.path.join(root, f)
                zf.write(path, os.path.relpath(path, REPO))
    script = str(tmp_path / "submit_main.py")
    shutil.copy(os.path.join(REPO, "weakscraper_spark", "__main__.py"),
                script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_MASTER="local[2]", SPARK_GRAFT_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)

    def submit_run(*args: str) -> dict:
        proc = subprocess.run(
            [submit, "--py-files", pkg_zip, script, *args],
            capture_output=True, text=True, cwd=str(tmp_path), env=env,
            timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        return [json.loads(ln) for ln in proc.stdout.splitlines()
                if ln.startswith("{")][-1]

    pages = str(tmp_path / "pages")
    assert submit_run("synth", "--out", pages, "--pages", "50")["pages"] == 50
    stats = submit_run("extract", "--pages", pages,
                       "--out", str(tmp_path / "sink"))
    assert stats["ok_written"] > 0
