"""SparkSession construction for the engine.

Scale posture (100 TB / 1000-executor design, tested on local[*]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned partition counts.
- ``nanosAsLong``: the driver fixtures store ``events.ts`` as parquet
  ``TIMESTAMP(NANOS)`` which Spark's vectorized reader rejects; we read the
  raw int64 nanos and convert with integer division (see
  ``sources/catalog.py``) so values truncate exactly like DuckDB's reader.
- Arrow enabled: every Pandas-UDF / ``mapInPandas`` operator (similarity
  search, multimodal decode) moves batches over Arrow, not pickled rows.
- GCS: when a ``gs://`` path is used on a real cluster, the GCS Hadoop
  connector picks up credentials from
  ``google.cloud.auth.service.account.json.keyfile`` — mirroring the
  reference's ``--service-account`` handling (``download_file.py:44-62``:
  inline JSON is written to a tempfile first).  Locally we run ``file:/``
  through the identical FileSystem code path.
- JVM start: when ``get_spark`` launches the driver JVM itself, it maps a
  dynamic class-data-sharing archive of the classes an earlier launch
  loaded (JEP 350), which roughly halves JVM start and warm-up.  See
  ``archive_launch``.
- Python workers: a local session forks them from the engine's daemon
  (``pydaemon``), which skips PySpark's per-task re-read of every
  unchanged zip directory on the worker's path (0.16-0.35 s of each
  task's set-up on 4 cores).  Cluster masters keep Spark's daemon: their
  executors may not have the engine installed.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shlex
import shutil
import struct
import tempfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = [
    "get_spark", "apply_runtime_conf", "resolve_service_account",
    "archive_launch",
]

# how long the exit hook waits for the driver JVM; writing an archive at
# exit takes about 11 s on a 4-core host
_JVM_EXIT_WAIT_S = 120

# JDK 17's dynamic-archive header (hotspot include/cds.h, archive version
# 11): magic, crc and version, then one 72-byte record per region whose
# size_t fields 0 and 2 are the region's file offset and byte count
_ARCHIVE_MAGIC, _ARCHIVE_VERSION = 0xF00BABA8, 11
_REGION_AT, _REGION_SIZE, _REGIONS = 16, 72, 3

# Runtime-settable SQL confs every engine entry point applies, so the engine
# behaves the same whether the session was built here or handed to us by an
# external harness (the driver builds its own SparkSession).
RUNTIME_CONF = {
    # fixtures store events.ts as TIMESTAMP(NANOS); read as int64 nanos
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: coalesce shuffles, split skewed partitions,
    # convert sort-merge joins to broadcast when a side turns out small
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every pandas_udf / mapInPandas operator
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Catalyst sizes file sources by their on-disk bytes; snappy parquet
    # decompresses ~3× into the hash relations a broadcast actually
    # builds, so the default factor (1.0) lets a column-pruned FACT
    # table slip under autoBroadcastJoinThreshold and get collected
    # through the driver (r13: sql_tpch_q5 was broadcasting LINEITEM at
    # sf0.1 — the estimate said 3.7 MB for a 600k-row build side).
    # 3.0 keeps every true dimension broadcast (they sit orders of
    # magnitude under the threshold) while fact-sized scans plan the
    # shuffle join they would get on a cluster.
    "spark.sql.sources.fileCompressionFactor": "3.0",
    # fixture timestamps are timezone-naive; pin the session to UTC so
    # year()/date_trunc()/date_format() agree with the (naive) DuckDB oracle
    # regardless of the host timezone
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Safe to call on a session the engine did not build; every conf here is
    runtime-settable (verified on pyspark 4.x).
    """
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a conf may be static in a future Spark; never fail a query
            # because a tuning knob could not be set
            pass
    return spark


def resolve_service_account(service_account: str | None) -> str | None:
    """Mirror the reference's credential bootstrap semantics.

    Reference ``download_file.py:44-62``: ``--service-account`` is either an
    inline JSON document (written to a tempfile) or a path to a key file;
    either way the resolved path is exported via
    ``GOOGLE_APPLICATION_CREDENTIALS``.  Returns the tempfile path when one
    was created (caller owns cleanup, matching ``download_file.py:274-276``).
    """
    if not service_account:
        return None
    try:
        json.loads(service_account)
        fd, path = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as handle:
            handle.write(service_account)
        os.environ["GOOGLE_APPLICATION_CREDENTIALS"] = path
        return path
    except ValueError:
        os.environ["GOOGLE_APPLICATION_CREDENTIALS"] = service_account
        return None


class ArchiveLaunch(NamedTuple):
    """How ``get_spark`` starts the driver JVM with a class-data archive."""

    java_options: str  # prepended to spark.driver.defaultJavaOptions
    conf_dir: str  # the empty SPARK_CONF_DIR the launch uses
    archive: str  # the archive's path once written
    tmp: str | None  # where this launch writes it (None: it exists)


def archive_launch(
    conf_dir: str, spark_home: str, cache_dir: str
) -> ArchiveLaunch | None:
    """Decide how to start the driver JVM from a dynamic CDS archive.

    The archive lives in ``cache_dir``, named by a key over the real
    ``java`` binary and the ``$SPARK_HOME/jars`` listing.  If a whole one
    exists the JVM maps it (``-XX:SharedArchiveFile``); otherwise the JVM
    records one at exit (``-XX:ArchiveClassesAtExit``) into a temp file
    named by this process's pid, and the exit hook moves it into place.

    JDK 17 neither records nor maps an archive while a non-empty directory
    is on the class path, and Spark puts its conf dir there.  So the
    archive is used only when the real conf dir holds nothing but
    ``*.template`` files, and the launch points ``SPARK_CONF_DIR`` at an
    empty directory instead.  ``None`` (launch as without an archive) for
    any other conf dir, or when the cache dir cannot be written.
    ``-Xlog:cds*=off`` keeps CDS warnings, such as a stale archive's, off
    the JVM's stdout, which the CLI's progress lines share.
    """
    java = shutil.which(
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME") else "java"
    )
    if java is None:
        return None
    java = os.path.realpath(java)
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    empty_conf = os.path.join(cache_dir, "conf")
    try:
        if any(not name.endswith(".template")
               for name in os.listdir(conf_dir)):
            return None
        stat = os.stat(java)
        listing = sorted((e.name, e.stat().st_size)
                         for e in os.scandir(jars))
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cache_dir, os.W_OK):
            return None
    except OSError:
        return None
    key = hashlib.sha256(repr(
        (java, stat.st_size, stat.st_mtime_ns, jars, listing)
    ).encode()).hexdigest()[:16]
    archive = os.path.join(cache_dir, f"{key}.jsa")
    if _archive_whole(archive):
        tmp, flag = None, f"-XX:SharedArchiveFile={archive}"
    else:
        tmp = f"{archive}.{os.getpid()}.tmp"
        flag = f"-XX:ArchiveClassesAtExit={tmp}"
    return ArchiveLaunch(f"{shlex.quote(flag)} -Xlog:cds*=off",
                         empty_conf, archive, tmp)


def _archive_whole(path: str) -> bool:
    """Whether ``path`` holds a dynamic archive that is not cut short.

    The JVM dies of SIGBUS when it maps a truncated archive, so such a
    file counts as missing, and the launch records a new one over it.
    Another archive version is left to the JVM's own checks."""
    try:
        with open(path, "rb") as handle:
            head = handle.read(_REGION_AT + _REGION_SIZE * _REGIONS)
            size = os.fstat(handle.fileno()).st_size
    except OSError:
        return False
    if len(head) < _REGION_AT + _REGION_SIZE * _REGIONS:
        return False
    magic, version = struct.unpack_from("<I4xI", head)
    if magic != _ARCHIVE_MAGIC:
        return False
    if version != _ARCHIVE_VERSION:
        return True
    end = max(sum(struct.unpack_from("<Q8xQ", head, at + 24))
              for at in range(_REGION_AT, len(head), _REGION_SIZE))
    return end <= size


# Spark's launcher adds these to the driver's class path, and a JVM told
# to record an archive prints "Cannot have non-empty directory in paths"
# on stdout at exit; PYSPARK_SUBMIT_ARGS can add more (--driver-class-path)
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                   "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
                   "PYSPARK_SUBMIT_ARGS")


def _archive_launch_here(conf: dict[str, str]) -> ArchiveLaunch | None:
    """``archive_launch`` for this process, or ``None`` when ``get_spark``
    will not start the JVM itself (a gateway is running or was handed
    over), or when ``conf`` or the environment may put more on the
    driver's class path than the conf dir and the jars."""
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or "spark.driver.extraClassPath" in conf
            or any(os.environ.get(name) for name in _CLASS_PATH_ENV)):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = os.environ.get("SPARK_HOME") or _find_spark_home()
    cache = (os.environ.get("XDG_CACHE_HOME")
             or os.path.join(os.path.expanduser("~"), ".cache"))
    return archive_launch(
        os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"),
        spark_home,
        os.path.join(cache, "spark-graft", "cds"),
    )


def _finish_archive_launch(proc, launch: ArchiveLaunch) -> None:
    """Exit hook for a JVM started by ``archive_launch``: stop Spark and
    wait for the JVM, so that none outlives this process (on UNIX it
    writes the archive only after stdin EOF).  Then a temp archive from a
    JVM that exited 0 moves into place, and the archives of other keys and
    the temp files of dead writers are deleted."""
    gateway = SparkContext._gateway
    try:
        if (getattr(gateway, "proc", None) is proc
                and SparkContext._active_spark_context is not None):
            SparkContext._active_spark_context.stop()
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=_JVM_EXIT_WAIT_S)
    except Exception:  # noqa: BLE001 - never leave a JVM behind
        proc.kill()
        proc.wait()
    if launch.tmp is None or not os.path.exists(launch.tmp):
        return
    if proc.returncode != 0:
        os.remove(launch.tmp)
        return
    os.replace(launch.tmp, launch.archive)
    cache_dir = os.path.dirname(launch.archive)
    for name in os.listdir(cache_dir):
        path = os.path.join(cache_dir, name)
        if name.endswith(".tmp"):
            pid = name.rsplit(".", 2)[-2]
            stale = pid.isdigit() and not _pid_alive(int(pid))
        else:
            stale = name.endswith(".jsa") and path != launch.archive
        if stale:
            try:
                os.remove(path)
            except OSError:
                pass


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _session_conf(
    master: str | None,
    shuffle_partitions: int | None,
    keyfile: str | None,
    extra_conf: dict[str, str],
) -> dict[str, str]:
    """The static confs ``get_spark`` builds its session with, from its
    arguments and the environment.  ``extra_conf`` wins over each, but a
    local session's executor ``PYTHONPATH`` keeps the engine's entry
    after the caller's."""
    conf = {}
    # on a real cluster (SPARK_MASTER/MASTER set, or a non-local master
    # arg) the driver's core count means nothing, and executors may not
    # have the engine installed
    cluster_env = bool(
        os.environ.get("SPARK_MASTER") or os.environ.get("MASTER")
    )
    if master:
        conf["spark.master"] = master
    elif not cluster_env:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        conf["spark.master"] = f"local[{cpus}]"
    local = conf.get("spark.master", "").startswith("local")

    # derive a shuffle-partition floor ONLY for local mode: on a cluster
    # the AQE-governed default must stand (a local-derived 2×cores here
    # would collapse cluster shuffles to a handful of partitions)
    if shuffle_partitions is None and local:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus_env and cpus_env.isdigit():
            shuffle_partitions = int(cpus_env) * 2
        else:
            # local mode: Spark's 200-partition default drowns small/medium
            # inputs in task overhead; 2× cores is the right floor and AQE
            # coalesces below it when partitions come out small
            match = re.match(r"local\[(\d+|\*)\]", conf["spark.master"])
            if match:
                n = match.group(1)
                cores = os.cpu_count() or 8 if n == "*" else int(n)
                shuffle_partitions = cores * 2
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)

    conf["spark.ui.enabled"] = "false"
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "8g")
    # the reference's one perf knob: 128 MiB resumable-upload chunks
    # (upload_file.py:12 ``CHUNK_SIZE = 128 * 1024 * 1024``) — mapped to
    # the GCS Hadoop connector's output-stream chunk size
    conf["spark.hadoop.fs.gs.outputstream.upload.chunk.size"] = "134217728"
    if keyfile:
        conf["spark.hadoop.google.cloud.auth.service.account.json."
             "keyfile"] = keyfile
    conf.update(extra_conf)
    if local:
        # Python workers fork from the engine's daemon (see ``pydaemon``),
        # and import it from any working directory
        conf.setdefault("spark.python.daemon.module",
                        "googlecloudstorage_blueprints_spark.pydaemon")
        package_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, (
            extra_conf.get("spark.executorEnv.PYTHONPATH"), package_root)))
    return conf


def get_spark(
    app_name: str = "googlecloudstorage-blueprints-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    service_account: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[*]`` when no cluster manager is configured;
    ``shuffle_partitions`` defaults to 2× local cores (AQE coalesces down),
    and on a real cluster should be left unset so AQE + defaults govern.
    """
    key_path = resolve_service_account(service_account)
    extra_conf = extra_conf or {}
    builder = SparkSession.builder.appName(app_name)
    for key, value in _session_conf(
        master, shuffle_partitions,
        key_path or os.environ.get("GOOGLE_APPLICATION_CREDENTIALS"),
        extra_conf,
    ).items():
        builder = builder.config(key, value)

    launch = _archive_launch_here(extra_conf)
    if launch is None:
        return apply_runtime_conf(builder.getOrCreate())
    # defaultJavaOptions, not extraJavaOptions: callers pass their own
    # extraJavaOptions (the benchmark sets its heap there)
    opts = extra_conf.get("spark.driver.defaultJavaOptions")
    builder = builder.config(
        "spark.driver.defaultJavaOptions",
        f"{launch.java_options} {opts}" if opts else launch.java_options,
    )
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        atexit.register(_finish_archive_launch, proc, launch)
    return apply_runtime_conf(spark)
