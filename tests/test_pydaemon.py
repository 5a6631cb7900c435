"""The engine's Python worker daemon (``pydaemon``) and the session confs
that select it.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; with Spark's default daemon each ``zipimporter`` on the worker's
path then re-reads its whole archive directory.  The engine's daemon
re-reads an archive only when its ``stat`` changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from googlecloudstorage_blueprints_spark.pydaemon import stat_keyed
from googlecloudstorage_blueprints_spark.session import _session_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "googlecloudstorage_blueprints_spark.pydaemon"


def test_warm_task_rereads_no_zip_directory(spark):
    # nested, so that it is pickled by value: workers cannot import tests
    def zip_reads(batches):
        """mapInPandas kernel: how many archive directories one
        ``importlib.invalidate_caches()`` reads in this worker, and how many
        zip archives are on its ``sys.path``."""
        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        zips = [p for p in sys.path if zipfile.is_zipfile(p)]
        yield pd.DataFrame({"reads": [len(reads)], "zips": [len(zips)]})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    probe = spark.range(1, numPartitions=1)
    for _ in range(2):  # the second task runs on a warm worker
        row = probe.mapInPandas(
            zip_reads, "reads long, zips long"
        ).collect()[0]
    assert row.zips > 0, "no zip on the worker's path: the check is vacuous"
    assert row.reads == 0


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as archive:
        for name, source in modules.items():
            archive.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_probe_a": "VALUE = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        stat_keyed(zipimport.zipimporter.invalidate_caches))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pydaemon_probe_a").VALUE == 1
        importlib.invalidate_caches()  # first sight of the key: one read
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"pydaemon_probe_a": "VALUE = 1\n",
                             "pydaemon_probe_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("pydaemon_probe_b").VALUE == 2
    finally:
        for name in ("pydaemon_probe_a", "pydaemon_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_FOREIGN_CWD_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from googlecloudstorage_blueprints_spark.session import get_spark

spark = get_spark(master="local[2]")
print("daemon", spark.sparkContext.getConf().get("spark.python.daemon.module"))
rows = spark.range(4, numPartitions=2).mapInPandas(
    lambda batches: (b * 2 for b in batches), "id long").collect()
print("ids", sorted(r.id for r in rows))
spark.stop()
"""


def test_python_task_runs_from_a_foreign_cwd(tmp_path):
    """Workers import the daemon module from any working directory: the
    driver runs from ``tmp_path`` with the repo only on ``sys.path``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_DRIVER.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"daemon {DAEMON}" in proc.stdout
    assert "ids [0, 2, 4, 6]" in proc.stdout


@pytest.mark.parametrize("master, env", [
    ("spark://host:7077", {}),
    ("yarn", {}),
    (None, {"SPARK_MASTER": "spark://host:7077"}),
    (None, {"MASTER": "yarn"}),
])
def test_non_local_master_keeps_the_default_daemon(monkeypatch, master, env):
    for name in ("SPARK_MASTER", "MASTER"):
        monkeypatch.delenv(name, raising=False)
    for name, value in env.items():
        monkeypatch.setenv(name, value)
    conf = _session_conf(master, None, None, {})
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


def test_local_master_selects_the_engine_daemon(monkeypatch):
    for name in ("SPARK_MASTER", "MASTER"):
        monkeypatch.delenv(name, raising=False)
    for master in (None, "local[2]", "local[*]"):
        conf = _session_conf(master, None, None, {})
        assert conf["spark.python.daemon.module"] == DAEMON
        assert conf["spark.executorEnv.PYTHONPATH"] == REPO
    # an explicit daemon wins; an explicit PYTHONPATH keeps its entries
    conf = _session_conf("local[2]", None, None, {
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": "libs",
    })
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == f"libs{os.pathsep}{REPO}"
