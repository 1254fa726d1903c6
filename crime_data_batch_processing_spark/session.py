"""SparkSession factory with scale-conscious defaults.

The reference leaves every Spark knob at its 2.4 default (the single
commented-out attempt is ``spark.driver.memory`` at
/root/reference/spark_ingest_script.py:20). This engine instead sets
the configs that matter at 100 TB up front:

* AQE (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic join-strategy demotion to broadcast) — the single biggest
  lever for plans whose statistics are only known at runtime.
* ``spark.sql.shuffle.partitions`` sized to the machine for local
  runs; on a real cluster AQE's coalescing makes the static value a
  ceiling rather than a target.
* Arrow on — every Pandas-UDF operator (dedup, similarity,
  multimodal) rides the vectorized Arrow path.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.

Class-data sharing. When ``get_spark`` launches the driver JVM itself,
it starts it from a JDK application class-data-sharing (AppCDS)
archive, so the classes a session loads are mapped instead of parsed
and verified. No user start dumps the archive: the first start on a
host for a given JDK and Spark install launches its JVM as without
AppCDS and then starts a detached background process, at the lowest
CPU priority, that runs one warm-up session whose JVM writes the
archive when it exits (``-XX:ArchiveClassesAtExit``). Every start after
that maps it (``-XX:SharedArchiveFile``). So the gain needs a warm
host: one where an earlier start's dump has finished. On 4 cores,
``perfbench`` ``setup_s`` on ``engine_keys`` fell from a median of
11.0 s to 5.9 s with the archive warm, and from 12.8 s to 9.9 s with a
fresh cache per run, where only the run's second set-up finds the
archive; the first start on a cold host is not faster. README has the
A/B.

* The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/crimegraft/cds/``
  (~140 MB), named by a fingerprint of the ``java`` binary's real path,
  the stat of ``libjvm.so``, the name, size and mtime of every jar in
  ``$SPARK_HOME/jars`` and the driver heap size. Only the current
  fingerprint's files are kept.
* The dumper holds the archive's ``.lock`` (``fixtures.acquire_lock``,
  with its heartbeat) while it dumps, so one process dumps at a time.
  A failed or killed dump leaves the lock behind, and no start retries
  it until the lock is an hour stale. The JVM writes ``.dump``, header
  last; a ``.dump`` whose header is written is published with
  ``os.replace``, by the dumper or by any later start.
* The JDK refuses a non-empty directory on an archived class path, and
  Spark's launcher puts the conf dir first. While a JVM that dumps or
  maps the archive launches, ``SPARK_CONF_DIR`` points at the empty
  ``cds/conf``; this is a no-op only while the real conf dir holds
  nothing but ``*.template`` files.
* AppCDS is off, and the environment untouched, when the conf dir
  holds any other file; when ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
  ``SPARK_DIST_CLASSPATH`` is set; when the caller passes
  ``spark.driver.extraClassPath``; when a JVM is already running; when
  the cache is not writable; and until a dump is published.
* The options go through ``spark.driver.defaultJavaOptions``, which
  Spark puts before the caller's ``spark.driver.extraJavaOptions``.
  The JVM's CDS log goes to stderr, never to stdout.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager, suppress
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from crime_data_batch_processing_spark.fixtures import acquire_lock, release_lock

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Environment variables that add class-path entries the archive's
#: class path would not match.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

#: The JVM's CDS log: off on stdout (callers read results from it),
#: warnings on stderr.
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"

#: How long a dump's lock stays valid without its holder's heartbeat:
#: a dump that failed, or whose dumper was killed, is retried after it.
_DUMP_RETRY_S = 3600

#: The first 4 bytes of a JDK dynamic CDS archive. The JVM writes the
#: header after every region, so a file that starts with it was
#: written to the end.
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def get_spark(
    app_name: str = "crime_data_batch_processing_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with the engine's defaults.

    The master is ``local[SPARK_GRAFT_CPUS]`` (default: every core) and
    there is one JVM, so ``spark.driver.memory`` is the only memory
    knob. `extra_conf` entries are set last and override the defaults.
    """
    extra = dict(extra_conf or {})
    driver_mem = extra.get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    builder = _engine_builder(app_name, driver_mem)
    cds = _class_archive(driver_mem, extra)
    env = {}
    if cds is not None and cds.mapped:
        key = "spark.driver.defaultJavaOptions"
        extra[key] = " ".join(
            filter(None, [extra.get(key), _java_opts(f"-XX:SharedArchiveFile={cds.archive}")])
        )
        env["SPARK_CONF_DIR"] = _empty_conf(cds.archive)
    for k, v in extra.items():
        builder = builder.config(k, v)
    with _scoped_environ(env):
        spark = builder.getOrCreate()
    if cds is not None and not cds.mapped:
        _start_dumper(cds.archive, driver_mem)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _engine_builder(app_name: str, driver_mem: str) -> SparkSession.Builder:
    """A builder with the engine's defaults (see `get_spark`)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: the scale-up insurance policy ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(cpus))
        # --- scan parallelism for the LOCAL testdata (one ~10-50 MB
        # parquet file per table would otherwise be a single input
        # split; 16m yields a handful of splits so scans use the
        # cores). Production keeps the 128m default — override via
        # SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # --- Arrow for every pandas-UDF operator ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism / oracle comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- quiet local runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set `conf` on the session for the block. On exit, also on error,
    each key gets its previous value back, or is unset if it was unset.

    The session conf is global: a job or stream started from another
    thread inside the block sees the scoped values too.
    """
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --------------------------------------------------------------------------
# Application class-data sharing for the driver JVM (see the module doc)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class _Cds:
    """The archive of this start's fingerprint, and whether this start
    maps it (else it launches as without it and starts the dumper)."""

    archive: str
    mapped: bool


def _java_opts(opts: str) -> str:
    """`opts` with the JVM's CDS log kept off stdout."""
    return f"{_CDS_LOG} {opts}"


@contextmanager
def _scoped_environ(env: dict[str, str]):
    """Set `env` in os.environ for the block; on exit, also on error,
    each name gets its previous value back, or is removed."""
    prev = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _cds_dir() -> str:
    """The directory that holds the class-data archive."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "crimegraft", "cds")


def _empty_conf(archive: str) -> str:
    """The empty conf dir a JVM that dumps or maps `archive` launches with."""
    return os.path.join(os.path.dirname(archive), "conf")


def _java() -> str | None:
    """The java binary Spark's launcher runs (bin/spark-class's rule)."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _fingerprint(java: str, spark_home: str, driver_mem: str) -> str:
    """What an archive is only valid for: the JVM (the java binary's
    real path, libjvm.so's stat), the class path (each Spark jar's
    name, size and mtime) and the heap size, which sets the
    compressed-oops mode."""
    java = os.path.realpath(java)
    libjvm = os.stat(
        os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    )
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    parts = [java, f"{libjvm.st_size} {libjvm.st_mtime_ns} {libjvm.st_ino}", jars, driver_mem]
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            parts.append(f"{name} {st.st_size} {st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:20]


def _complete(path: str) -> bool:
    """Whether `path` is a dynamic archive whose header is written."""
    try:
        with open(path, "rb") as f:
            return f.read(4) == _DYNAMIC_MAGIC
    except OSError:
        return False


def _published(archive: str) -> bool:
    """Whether `archive` is a complete archive, after publishing its
    dump if that is complete."""
    if _complete(archive + ".dump"):
        with suppress(FileNotFoundError):  # another start published it first
            os.replace(archive + ".dump", archive)
    return _complete(archive)


def _class_archive(driver_mem: str, conf: dict[str, str]) -> _Cds | None:
    """How this start uses the class-data archive, or None to launch
    the JVM exactly as without it and leave the archive to others."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    if "spark.driver.extraClassPath" in conf:
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
    except FileNotFoundError:
        pass
    java = _java()
    if java is None:
        return None
    try:
        root = _cds_dir()
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
        if os.listdir(os.path.join(root, "conf")):
            return None
        fp = _fingerprint(java, spark_home, driver_mem)
        for name in os.listdir(root):
            if name != "conf" and not name.startswith(fp + "."):
                with suppress(FileNotFoundError):  # a concurrent start's prune
                    os.remove(os.path.join(root, name))
        archive = os.path.join(root, f"{fp}.jsa")
        if _published(archive):
            return _Cds(archive, mapped=True)
        with suppress(FileNotFoundError):
            if time.time() - os.stat(archive + ".lock").st_mtime < _DUMP_RETRY_S:
                return None  # a dump runs, or failed within the retry time
    except OSError:  # the cache is not writable
        return None
    return _Cds(archive, mapped=False)


#: The background dumper: forks once more so that it is no child of
#: the caller (whose CPU accounting it would otherwise join when reaped).
_DUMPER = """
import os, sys
if os.fork():
    os._exit(0)
os.nice(19)
from crime_data_batch_processing_spark.session import _dump
_dump(sys.argv[1], sys.argv[2])
"""


def _start_dumper(archive: str, driver_mem: str) -> None:
    """Start the detached process that dumps and publishes `archive`,
    at the lowest CPU priority. It imports from the caller's module
    path, and gets no temp or Spark local dir of the caller's, which
    the caller may delete while the dump runs."""
    env = {k: v for k, v in os.environ.items() if k not in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join([package_root, *filter(None, sys.path)])
    with suppress(OSError):
        subprocess.run(
            [sys.executable, "-c", _DUMPER, archive, driver_mem],
            env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, start_new_session=True,
        )


def _dump(archive: str, driver_mem: str) -> None:
    """Under `archive`'s lock, run one warm-up session whose JVM writes
    the dump when it exits, and publish it. A failed dump keeps the
    lock, so no start retries it until the lock is stale."""
    lock = archive + ".lock"
    try:
        held = acquire_lock(lock, _DUMP_RETRY_S, timeout_s=1)
    except TimeoutError:  # another dumper holds it
        return
    if not _published(archive):
        builder = _engine_builder("crimegraft-cds-dump", driver_mem).config(
            "spark.driver.defaultJavaOptions",
            _java_opts(f"-XX:ArchiveClassesAtExit={archive}.dump"),
        )
        with _scoped_environ({"SPARK_CONF_DIR": _empty_conf(archive)}):
            spark = builder.getOrCreate()
        spark.sql("SELECT sum(id) FROM range(1000)").collect()
        jvm = SparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()  # the JVM exits, and dumps, when its stdin closes
        jvm.wait()
        if not _published(archive):
            return
    release_lock(lock, held)
