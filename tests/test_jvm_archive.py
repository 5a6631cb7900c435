"""The driver JVM's class-data-sharing archive (``session.archive_launch``).

Every test but the last decides or finishes a launch without starting
Spark.  The last runs one CLI call in a subprocess over a stale archive."""

from __future__ import annotations

import os
import pathlib
import shlex
import struct
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from googlecloudstorage_blueprints_spark import session
from googlecloudstorage_blueprints_spark.session import archive_launch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME") or _find_spark_home()


def _templates_conf(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir(parents=True)
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    return str(conf)


def _write_archive(path, size, region_end):
    """A JDK 17 dynamic-archive header whose last region ends at
    ``region_end``, padded to ``size`` bytes."""
    head = struct.pack("<IiI4x", 0xF00BABA8, 0, 11)
    for offset in (4096, 8192, region_end - 100):
        head += struct.pack("<6iQQQ24x", 0, 0, 0, 0, 0, 0, offset, 0, 100)
    with open(path, "wb") as handle:
        handle.write(head.ljust(size, b"\0"))


def _flag(launch):
    return shlex.split(launch.java_options)[0]


def test_templates_only_conf_gives_flags_and_empty_conf_dir(tmp_path):
    cache = tmp_path / "cache"
    launch = archive_launch(_templates_conf(tmp_path), SPARK_HOME, str(cache))
    assert launch is not None
    assert launch.conf_dir == str(cache / "conf")
    assert os.path.isdir(launch.conf_dir)
    assert not os.listdir(launch.conf_dir)
    assert "-Xlog:cds*=off" in shlex.split(launch.java_options)
    # the key is stable: a second decision names the same archive
    again = archive_launch(_templates_conf(tmp_path / "x"), SPARK_HOME,
                           str(cache))
    assert again.archive == launch.archive


def test_miss_records_to_pid_named_temp_in_same_dir(tmp_path):
    launch = archive_launch(_templates_conf(tmp_path), SPARK_HOME,
                            str(tmp_path / "cache"))
    assert launch.tmp == f"{launch.archive}.{os.getpid()}.tmp"
    assert os.path.dirname(launch.tmp) == str(tmp_path / "cache")
    assert _flag(launch) == f"-XX:ArchiveClassesAtExit={launch.tmp}"


def test_existing_archive_is_mapped(tmp_path):
    conf, cache = _templates_conf(tmp_path), str(tmp_path / "cache")
    _write_archive(archive_launch(conf, SPARK_HOME, cache).archive,
                   size=20000, region_end=20000)
    launch = archive_launch(conf, SPARK_HOME, cache)
    assert launch.tmp is None
    assert _flag(launch) == f"-XX:SharedArchiveFile={launch.archive}"


@pytest.mark.parametrize("content", ["truncated", "garbage"])
def test_damaged_archive_is_recorded_again(tmp_path, content):
    """The JVM dies of SIGBUS mapping a truncated archive, so one whose
    regions end past the end of the file counts as missing."""
    conf, cache = _templates_conf(tmp_path), str(tmp_path / "cache")
    path = archive_launch(conf, SPARK_HOME, cache).archive
    if content == "truncated":
        _write_archive(path, size=20000, region_end=20001)
    else:
        with open(path, "wb") as handle:
            handle.write(os.urandom(2000))
    launch = archive_launch(conf, SPARK_HOME, cache)
    assert launch.tmp is not None
    assert _flag(launch).startswith("-XX:ArchiveClassesAtExit=")


def test_conf_dir_with_real_files_gives_nothing(tmp_path):
    conf = _templates_conf(tmp_path)
    (tmp_path / "conf" / "spark-defaults.conf").write_text(
        "spark.eventLog.enabled true\n")
    assert archive_launch(conf, SPARK_HOME, str(tmp_path / "cache")) is None


def test_unwritable_cache_dir_gives_nothing(tmp_path):
    # a regular file as the parent fails for root too, unlike chmod
    (tmp_path / "file").write_text("")
    assert archive_launch(_templates_conf(tmp_path), SPARK_HOME,
                          str(tmp_path / "file" / "cds")) is None


@pytest.fixture()
def launching(monkeypatch, tmp_path):
    """An environment in which ``get_spark`` would launch with an archive."""
    monkeypatch.setenv("SPARK_CONF_DIR", _templates_conf(tmp_path))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for name in ("PYSPARK_GATEWAY_PORT",) + session._CLASS_PATH_ENV:
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return os.environ["SPARK_CONF_DIR"]


def test_running_gateway_gives_nothing(launching, monkeypatch):
    assert session._archive_launch_here({}) is not None
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._archive_launch_here({}) is None
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._archive_launch_here({}) is None


@pytest.mark.parametrize("name", session._CLASS_PATH_ENV)
def test_more_class_path_gives_nothing(launching, monkeypatch, tmp_path,
                                       name):
    monkeypatch.setenv(name, str(tmp_path))
    assert session._archive_launch_here({}) is None


def test_extra_class_path_gives_nothing(launching):
    assert session._archive_launch_here(
        {"spark.driver.extraClassPath": "extra.jar"}) is None


class _Stub:
    conf = type("Conf", (), {"set": lambda self, k, v: None})()


@pytest.fixture()
def fake_launch(launching, monkeypatch):
    """``get_spark`` as if no JVM ran: ``getOrCreate`` records the options
    and the ``SPARK_CONF_DIR`` it would launch with."""
    seen = {}

    def get_or_create(builder):
        seen["options"] = dict(builder._options)
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        return _Stub()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def test_get_spark_swaps_conf_dir_for_the_launch_only(fake_launch,
                                                      launching, tmp_path):
    session.get_spark(extra_conf={
        "spark.driver.defaultJavaOptions": "-Dcaller=1",
        "spark.driver.extraJavaOptions": "-Xms1g"})
    cache = tmp_path / "xdg" / "spark-graft" / "cds"
    assert fake_launch["conf_dir"] == str(cache / "conf")
    assert os.environ["SPARK_CONF_DIR"] == launching
    opts = shlex.split(
        fake_launch["options"]["spark.driver.defaultJavaOptions"])
    assert opts[0].startswith(f"-XX:ArchiveClassesAtExit={cache}/")
    assert opts[-1] == "-Dcaller=1"
    assert fake_launch["options"]["spark.driver.extraJavaOptions"] == "-Xms1g"


def test_get_spark_keeps_a_real_conf_dir(fake_launch, launching, tmp_path):
    (tmp_path / "conf" / "spark-defaults.conf").write_text("")
    session.get_spark()
    assert fake_launch["conf_dir"] == launching
    assert os.environ["SPARK_CONF_DIR"] == launching
    assert "spark.driver.defaultJavaOptions" not in fake_launch["options"]


def _stdin_reader():
    """A child that exits 0 at stdin EOF, as the gateway JVM does."""
    return subprocess.Popen(
        [sys.executable, "-c", "import sys; sys.stdin.read()"],
        stdin=subprocess.PIPE)


def _dead_pid():
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_exit_hook_promotes_and_prunes(tmp_path):
    conf, cache = _templates_conf(tmp_path), tmp_path / "cache"
    launch = archive_launch(conf, SPARK_HOME, str(cache))
    pathlib.Path(launch.tmp).write_bytes(b"new archive")
    other_key = cache / "0123456789abcdef.jsa"
    other_key.write_bytes(b"old")
    dead = cache / f"{os.path.basename(launch.archive)}.{_dead_pid()}.tmp"
    dead.write_bytes(b"abandoned")
    live = cache / f"0123456789abcdef.jsa.{os.getpid()}.tmp"
    live.write_bytes(b"in progress")

    proc = _stdin_reader()
    session._finish_archive_launch(proc, launch)

    assert proc.returncode == 0
    assert pathlib.Path(launch.archive).read_bytes() == b"new archive"
    assert sorted(os.listdir(cache)) == sorted(
        ["conf", os.path.basename(launch.archive), live.name])


def test_exit_hook_drops_archive_of_failed_jvm(tmp_path):
    launch = archive_launch(_templates_conf(tmp_path), SPARK_HOME,
                            str(tmp_path / "cache"))
    pathlib.Path(launch.tmp).write_bytes(b"partial")
    proc = subprocess.Popen([sys.executable, "-c", "raise SystemExit(3)"],
                            stdin=subprocess.PIPE)
    session._finish_archive_launch(proc, launch)
    assert not os.path.exists(launch.tmp)
    assert not os.path.exists(launch.archive)


def _jvms_naming(text):
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as handle:
                if text.encode() in handle.read():
                    found.append(pid)
        except OSError:
            pass
    return found


def _plant_stale_archive(path, tmp_path):
    """A whole archive recorded under a class path that no Spark launch
    has, which the JVM refuses with a ``[cds`` warning on stdout."""
    jar = tmp_path / "launcher.jar"
    jar.write_bytes(next(
        (pathlib.Path(SPARK_HOME) / "jars").glob("spark-launcher_*.jar"))
        .read_bytes())
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else "java")
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={path}",
                    "-cp", str(jar), "org.apache.spark.launcher.Main"],
                   capture_output=True, timeout=120)
    assert session._archive_whole(path)


def test_cli_upload_over_stale_archive(tmp_path):
    """One CLI call over an archive the JVM cannot use: exit 0, the
    reference's progress lines and nothing else on stdout, and no JVM
    left behind."""
    xdg = tmp_path / "xdg"
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(SPARK_HOME,
                                                            "conf")
    planned = archive_launch(conf, SPARK_HOME,
                             str(xdg / "spark-graft" / "cds"))
    if planned is None:
        pytest.skip("this Spark conf dir rules the archive out")
    _plant_stale_archive(planned.archive, tmp_path)

    (tmp_path / "up").mkdir()
    for name in ("a.csv", "b.csv", "c.txt"):
        (tmp_path / "up" / name).write_text(f"payload:{name}")
    (tmp_path / "bucket").mkdir()
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT",) + session._CLASS_PATH_ENV}
    env.update(XDG_CACHE_HOME=str(xdg), SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=REPO)
    # files, not pipes: a pipe would also wait for a JVM that outlives
    # the CLI process
    with open(tmp_path / "out", "wb") as out, \
            open(tmp_path / "err", "wb") as err:
        rc = subprocess.run(
            [sys.executable, "-m",
             "googlecloudstorage_blueprints_spark.fileops.cli", "upload",
             "--bucket-name", f"file:{tmp_path}/bucket",
             "--source-folder-name", "up",
             "--source-file-name", r"\.csv$",
             "--source-file-name-match-type", "regex_match",
             "--destination-folder-name", "land"],
            cwd=tmp_path, env=env, stdout=out, stderr=err,
            timeout=600).returncode
    assert _jvms_naming(planned.archive) == []
    assert rc == 0, (tmp_path / "err").read_text()[-2000:]
    stdout = (tmp_path / "out").read_bytes()
    lines = ["2 files found. Preparing to upload..."]
    for i, name in enumerate(("a.csv", "b.csv"), 1):
        lines += [f"Uploading file {i} of 2",
                  f"{tmp_path}/up/{name} successfully uploaded to "
                  f"file:{tmp_path}/bucket/land/{name}"]
    lines += ["2 files processed.", "land/a.csv", "land/b.csv"]
    assert stdout == ("\n".join(lines) + "\n").encode()
    assert b"[cds" not in stdout
