"""The engine-owned PySpark worker daemon: Python workers fork from
``crawler_spark.worker_daemon``, where ``importlib.invalidate_caches()``
(called by every UDF task) re-reads a zip archive's directory only when
the archive changed on disk."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from crawler_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAT_KEYED = sys.version_info < (3, 13)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.mark.skipif(not STAT_KEYED, reason="zipimport re-reads lazily on 3.13+")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches)  # restored after the test
    monkeypatch.setattr(worker_daemon, "_STAMPS", {})
    worker_daemon.install()
    assert importlib.import_module("wd_mod_a").X == 1

    real = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    # a rewritten archive (new member, new size) is re-read, and the
    # new member imports
    _write_zip(archive, {"wd_mod_a.py": "X = 1\n", "wd_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wd_mod_b").Y == 2
    for mod in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(mod, None)


def _report_udf():
    """A pandas UDF that reports, from inside its worker, which
    invalidation the worker runs, how many archive directories one
    invalidation re-reads there, and the command line of the worker's
    parent. Self-contained, so it pickles by value."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        import importlib
        import os
        import zipimport

        real = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        name = zipimport.zipimporter.invalidate_caches.__name__
        return pd.Series([f"{name}|{len(reads)}|{parent}"] * len(s))

    return report


def _check_report(report):
    name, reads, parent = report.split("|", 2)
    assert "-m crawler_spark.worker_daemon" in parent
    if STAT_KEYED:
        assert name == "stat_keyed_invalidate_caches"
        assert reads == "0"


def test_workers_fork_from_engine_daemon(spark):
    rows = spark.range(8, numPartitions=4).select(
        _report_udf()("id").alias("r")).distinct().collect()
    assert rows
    for row in rows:
        _check_report(row.r)


_SUBPROCESS_DRIVER = """
import sys
sys.path[:0] = [{root!r}, {tests!r}]
from crawler_spark.session import get_spark
from test_worker_daemon import _report_udf

spark = get_spark("worker_daemon_cwd", cores=1, shuffle_partitions=1)
print("REPORT", spark.range(2).select(_report_udf()("id")).first()[0])
spark.stop()
"""


def test_daemon_starts_without_pythonpath_outside_repo(tmp_path):
    """``get_spark`` alone makes the daemon importable: no PYTHONPATH,
    working directory outside the repository."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_LOCAL_DIR"] = str(tmp_path / "spark-local")
    driver = _SUBPROCESS_DRIVER.format(root=ROOT, tests=os.path.join(ROOT, "tests"))
    proc = subprocess.run(
        [sys.executable, "-c", driver],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    assert report, proc.stdout[-2000:]
    _check_report(report[0][len("REPORT "):])
