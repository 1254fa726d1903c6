"""The driver JVM's class-data-sharing archive (session.py's module doc).

The pure-Python tests replace `SparkSession.Builder.getOrCreate` with a
fake that records the options and the `SPARK_CONF_DIR` a launch would
see, and the background dumper with a recorder, so they start no JVM.
The end-to-end test starts two fresh processes: the first launches
plain and starts the dumper, the second maps the archive it wrote.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from crime_data_batch_processing_spark import session
from crime_data_batch_processing_spark.fixtures import acquire_lock, release_lock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAGIC = session._DYNAMIC_MAGIC


def _write(path, data: bytes = b"") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


# --------------------------------------------------------------------------
# Fingerprint
# --------------------------------------------------------------------------


def test_fingerprint_follows_jars_and_heap(tmp_path):
    java = tmp_path / "jdk" / "bin" / "java"
    _write(str(java))
    _write(str(tmp_path / "jdk" / "lib" / "server" / "libjvm.so"), b"jvm")
    jar = tmp_path / "spark" / "jars" / "a.jar"
    _write(str(jar), b"a")

    def fp(mem="8g"):
        return session._fingerprint(str(java), str(tmp_path / "spark"), mem)

    first = fp()
    assert fp() == first
    assert fp("1g") != first
    _write(str(jar), b"ab")  # size
    sized = fp()
    assert sized != first
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime only
    assert fp() not in (first, sized)


# --------------------------------------------------------------------------
# Launch decisions, with a fake launch
# --------------------------------------------------------------------------


class FakeLaunch:
    """Stands in for the JVM launch and for the background dumper's
    process start: records, in order, the options and SPARK_CONF_DIR of
    each launch and each dumper start. A launched JVM that was asked to
    dump writes `dump_bytes` there when it exits."""

    def __init__(self, monkeypatch, dump_bytes: bytes = MAGIC + bytes(4096)):
        self.monkeypatch = monkeypatch
        self.events: list[dict] = []
        fake = self

        def get_or_create(builder):
            opts = builder._options.get("spark.driver.defaultJavaOptions", "")
            fake.events.append({
                "launch": True,
                "java_opts": opts,
                "extra_java_opts": builder._options.get("spark.driver.extraJavaOptions"),
                "conf_dir": os.environ.get("SPARK_CONF_DIR"),
            })
            dumps = [o.split("=", 1)[1] for o in opts.split()
                     if o.startswith("-XX:ArchiveClassesAtExit=")]

            def exit_jvm():
                for path in dumps:
                    _write(path, dump_bytes)

            proc = SimpleNamespace(stdin=SimpleNamespace(close=lambda: None), wait=exit_jvm)
            monkeypatch.setattr(SparkContext, "_gateway", SimpleNamespace(proc=proc))
            return SimpleNamespace(
                sparkContext=SimpleNamespace(setLogLevel=lambda _: None),
                sql=lambda _: SimpleNamespace(collect=list),
                stop=lambda: None,
            )

        def start_dumper(archive, driver_mem):
            fake.events.append({"dumper": archive, "driver_mem": driver_mem})

        monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
        monkeypatch.setattr(session, "_start_dumper", start_dumper)

    def start(self, **extra_conf) -> list[dict]:
        """One `get_spark` from a process with no JVM yet; returns its
        launch, then the dumper start if it made one."""
        n = len(self.events)
        self.monkeypatch.setattr(SparkContext, "_gateway", None)
        session.get_spark(extra_conf=extra_conf or None)
        self.monkeypatch.setattr(SparkContext, "_gateway", None)
        return self.events[n:]

    def dump(self, archive: str) -> list[dict]:
        """One run of the background dumper; returns its launches."""
        n = len(self.events)
        self.monkeypatch.setattr(SparkContext, "_gateway", None)
        session._dump(archive, "8g")
        self.monkeypatch.setattr(SparkContext, "_gateway", None)
        return self.events[n:]


@pytest.fixture
def conf_dir(tmp_path, monkeypatch):
    """A Spark conf dir that holds only a template, as SPARK_CONF_DIR."""
    d = tmp_path / "spark-conf"
    _write(str(d / "spark-defaults.conf.template"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(d))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for name in session._CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(name, raising=False)
    return str(d)


def _archive() -> str:
    """The archive path of the current fingerprint."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    fp = session._fingerprint(session._java(), session._find_spark_home(), mem)
    return os.path.join(session._cds_dir(), f"{fp}.jsa")


def _is_off(launch: dict, conf_dir: str) -> bool:
    return (
        launch.get("launch")
        and "-XX:" not in launch["java_opts"]
        and launch["conf_dir"] == conf_dir
        and os.environ.get("SPARK_CONF_DIR") == conf_dir
    )


def test_first_start_launches_plain_then_starts_the_dumper(conf_dir, monkeypatch):
    fake = FakeLaunch(monkeypatch)
    launch, dumper = fake.start(**{"spark.driver.extraJavaOptions": "-Dcaller=1"})
    archive = _archive()
    assert _is_off(launch, conf_dir)
    assert launch["extra_java_opts"] == "-Dcaller=1"
    assert dumper == {"dumper": archive, "driver_mem": "8g"}

    (dump,) = fake.dump(archive)
    assert f"-XX:ArchiveClassesAtExit={archive}.dump" in dump["java_opts"]
    assert "-Xlog:cds*=off" in dump["java_opts"]
    assert dump["conf_dir"] == os.path.join(session._cds_dir(), "conf")
    assert os.environ["SPARK_CONF_DIR"] == conf_dir  # restored after the launch
    assert session._complete(archive) and not os.path.exists(archive + ".dump")
    assert not os.path.exists(archive + ".lock")

    (mapped,) = fake.start(**{"spark.driver.extraJavaOptions": "-Dcaller=1"})
    assert f"-XX:SharedArchiveFile={archive}" in mapped["java_opts"]
    assert "-Xlog:cds*=off" in mapped["java_opts"]
    assert mapped["extra_java_opts"] == "-Dcaller=1"
    assert mapped["conf_dir"] == dump["conf_dir"]
    assert os.environ["SPARK_CONF_DIR"] == conf_dir
    assert fake.start() == [mapped | {"extra_java_opts": None}]


def test_a_running_dump_is_left_alone_and_published_by_any_start(conf_dir, monkeypatch):
    fake = FakeLaunch(monkeypatch)
    archive = _archive()
    os.makedirs(os.path.dirname(archive))
    held = acquire_lock(archive + ".lock", session._DUMP_RETRY_S)
    try:
        (launch,) = fake.start()  # no second dumper
        assert _is_off(launch, conf_dir)
        assert fake.dump(archive) == []  # a dumper started anyway does nothing
        _write(archive + ".dump", MAGIC + bytes(4096))  # its JVM has exited
        (mapped,) = fake.start()
        assert f"-XX:SharedArchiveFile={archive}" in mapped["java_opts"]
    finally:
        release_lock(archive + ".lock", held)


def test_failed_dump_is_retried_only_once_its_lock_is_stale(conf_dir, monkeypatch):
    fake = FakeLaunch(monkeypatch, dump_bytes=bytes(4096))  # the header never written
    archive = _archive()
    fake.start()
    (dump,) = fake.dump(archive)
    assert not os.path.exists(archive)
    lock = archive + ".lock"
    assert os.path.exists(lock)  # kept: later starts do not retry
    for _ in range(2):
        (launch,) = fake.start()
        assert _is_off(launch, conf_dir)

    old = time.time() - session._DUMP_RETRY_S - 60
    os.utime(lock, (old, old))
    launch, dumper = fake.start()
    assert _is_off(launch, conf_dir) and dumper["dumper"] == archive


def test_stale_fingerprint_is_removed_and_redumped(conf_dir, monkeypatch):
    stale = os.path.join(session._cds_dir(), "0123456789abcdef0123.jsa")
    _write(stale, MAGIC + bytes(4096))
    launch, dumper = FakeLaunch(monkeypatch).start()
    assert _is_off(launch, conf_dir)
    assert dumper["dumper"] == _archive()
    assert not os.path.exists(stale)


def test_all_zero_archive_launches_plain_and_is_redumped(conf_dir, monkeypatch):
    _write(_archive(), bytes(4096))
    fake = FakeLaunch(monkeypatch)
    launch, dumper = fake.start()
    assert _is_off(launch, conf_dir)
    fake.dump(dumper["dumper"])
    (mapped,) = fake.start()
    assert f"-XX:SharedArchiveFile={_archive()}" in mapped["java_opts"]
    assert session._complete(_archive())


@pytest.mark.parametrize("case", [
    "conf_file", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "extra_class_path", "jvm_running", "unwritable_cache",
])
def test_off_cases_launch_as_without_archive(case, conf_dir, monkeypatch, tmp_path):
    fake = FakeLaunch(monkeypatch)
    _write(_archive(), MAGIC + bytes(4096))  # a published archive, unused
    extra = {}
    if case == "conf_file":
        _write(os.path.join(conf_dir, "spark-defaults.conf"))
    elif case in session._CLASSPATH_ENV:
        monkeypatch.setenv(case, str(tmp_path))
    elif case == "extra_class_path":
        extra["spark.driver.extraClassPath"] = str(tmp_path)
    elif case == "unwritable_cache":
        _write(str(tmp_path / "not-a-dir"))
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not-a-dir"))
    if case == "jvm_running":
        monkeypatch.setattr(SparkContext, "_gateway", object())
        session.get_spark()
        got = fake.events
    else:
        got = fake.start(**extra)
    assert len(got) == 1 and _is_off(got[0], conf_dir), got


# --------------------------------------------------------------------------
# End to end: the first process starts the dumper, the next maps its archive
# --------------------------------------------------------------------------

CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from crime_data_batch_processing_spark.session import get_spark

spark = get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dcrimegraft.caller=1"})
jvm = spark._jvm.java.lang.management.ManagementFactory
args = [str(a) for a in jvm.getRuntimeMXBean().getInputArguments()]
total = spark.sql("SELECT sum(id) FROM range(1000)").collect()[0][0]
gateway = SparkContext._gateway
with open(f"/proc/{gateway.proc.pid}/maps") as f:
    mapped = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
spark.stop()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=300)
print(json.dumps({"sum": total, "args": args, "mapped": mapped}))
"""


def test_second_process_maps_what_the_first_ones_dumper_wrote(tmp_path):
    cache = tmp_path / "cache"
    env = {k: v for k, v in os.environ.items()
           if k not in session._CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")

    def child() -> dict:
        p = subprocess.run([sys.executable, "-c", CHILD, REPO], cwd=tmp_path, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=600, check=True)
        lines = p.stdout.splitlines()
        assert len(lines) == 1, p.stdout  # only the result line
        return json.loads(lines[0])

    plain = child()
    assert not [a for a in plain["args"] if a.startswith("-XX:") and "Archive" in a]
    assert not [m for m in plain["mapped"] if m.startswith(str(cache))]
    root = cache / "crimegraft" / "cds"
    deadline = time.monotonic() + 600
    while not list(root.glob("*.jsa")) and time.monotonic() < deadline:
        time.sleep(1)  # the detached dumper runs its own session
    (archive,) = map(str, root.glob("*.jsa"))
    while os.path.exists(archive + ".lock") and time.monotonic() < deadline:
        time.sleep(0.2)  # the dumper releases its lock last
    assert session._complete(archive)
    assert not os.path.exists(archive + ".dump") and not os.path.exists(archive + ".lock")

    mapped = child()
    assert f"-XX:SharedArchiveFile={archive}" in mapped["args"]
    assert "-Dcrimegraft.caller=1" in mapped["args"]
    assert "-Dcrimegraft.caller=1" in plain["args"]
    assert archive in mapped["mapped"]
    assert plain["sum"] == mapped["sum"] == 499500
