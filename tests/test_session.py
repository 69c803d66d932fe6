"""The driver JVM's class-data-sharing archive: its key, when ``get_spark``
asks for it, and its life cycle from dump to map across fresh processes."""

import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from big_data_analytics_project_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAGIC = bytes.fromhex("a8ab0bf0")


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A fake Spark home (templates-only conf, two jars) and JDK, an empty
    cache, and no running JVM as far as the helper can tell."""
    spark_home = tmp_path / "spark"
    (spark_home / "conf").mkdir(parents=True)
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (spark_home / "jars").mkdir()
    (spark_home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (spark_home / "jars" / "b.jar").write_bytes(b"b" * 20)
    for jdk in ("jdk-a", "jdk-b"):
        (tmp_path / jdk / "bin").mkdir(parents=True)
        (tmp_path / jdk / "bin" / "java").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk-a"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return tmp_path


def _option(conf=None):
    cds = session._class_data_sharing(conf or {})
    return cds and cds[0]


def test_key_changes_with_jdk_and_jar_set(home, monkeypatch):
    jars = str(home / "spark" / "jars")
    key = session._cds_key("/conf", jars)
    assert key == session._cds_key("/conf", jars)
    monkeypatch.setenv("JAVA_HOME", str(home / "jdk-b"))
    assert session._cds_key("/conf", jars) != key
    monkeypatch.setenv("JAVA_HOME", str(home / "jdk-a"))
    (home / "spark" / "jars" / "c.jar").write_bytes(b"c")
    with_c = session._cds_key("/conf", jars)
    assert with_c != key
    (home / "spark" / "jars" / "c.jar").write_bytes(b"cc")
    assert session._cds_key("/conf", jars) not in (key, with_c)
    assert session._cds_key("/other-conf", jars) != session._cds_key("/conf", jars)


def test_jdk_from_path_when_java_home_unset(home, monkeypatch):
    monkeypatch.delenv("JAVA_HOME")
    monkeypatch.setenv("PATH", str(home / "jdk-b" / "bin"))
    (home / "jdk-b" / "bin" / "java").chmod(0o755)
    jars = str(home / "spark" / "jars")
    from_path = session._cds_key("/conf", jars)
    monkeypatch.setenv("JAVA_HOME", str(home / "jdk-b"))
    assert from_path == session._cds_key("/conf", jars)


def test_dump_then_map(home):
    option, conf_dir = session._class_data_sharing({})
    cds_dir = home / "cache" / "spark-graft"
    assert conf_dir == str(cds_dir / "conf") and not os.listdir(conf_dir)
    assert option.startswith(f"-XX:ArchiveClassesAtExit={cds_dir}/driver-")
    archive = option.split()[0].split("=", 1)[1]
    with open(archive, "wb") as f:
        f.write(MAGIC + b"\0" * 60)
    assert _option() == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"


def test_no_option_when_jvm_already_running(home, monkeypatch):
    assert _option()
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert _option() is None
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert _option() is None


def test_no_option_when_a_conf_file_would_be_hidden(home, monkeypatch):
    user_conf = home / "user-conf"
    user_conf.mkdir()
    (user_conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(user_conf))
    assert _option() is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert _option()
    (home / "spark" / "conf" / "log4j2.properties").write_text("")
    assert _option() is None


def test_no_option_with_other_classpath_entries(home, monkeypatch):
    assert _option({"spark.driver.extraClassPath": "/x"}) is None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(home))
    assert _option() is None


def test_unwritable_cache_gives_no_option(home, monkeypatch):
    blocker = home / "blocker"
    blocker.write_text("")  # a file where the cache directory would go
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker / "cache"))
    assert _option() is None


def test_truncated_archive_is_dumped_again(home):
    option = _option()
    archive = option.split()[0].split("=", 1)[1]
    cds_dir = os.path.dirname(archive)
    with open(archive, "wb") as f:  # an interrupted dump: the header comes last
        f.write(b"\0" * 64)
    other = os.path.join(cds_dir, "driver-0123456789abcdef.jsa")
    with open(other, "wb") as f:
        f.write(MAGIC)
    assert _option() == option
    assert not os.path.exists(archive) and not os.path.exists(other)


class _Builder:
    """Records what ``get_spark`` configures and the environment of the
    launch, in place of ``SparkSession.builder``."""

    def __init__(self):
        self.conf, self.launch_conf_dir = {}, None

    def appName(self, _):
        return self

    master = appName

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.launch_conf_dir = os.environ.get("SPARK_CONF_DIR")
        return self


@pytest.mark.parametrize("before", [None, "/user/conf"])
def test_conf_dir_set_for_the_launch_only(monkeypatch, before):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": builder}))
    monkeypatch.setattr(session, "_class_data_sharing", lambda conf: ("-Xcds", "/empty/conf"))
    if before is None:
        monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    else:
        monkeypatch.setenv("SPARK_CONF_DIR", before)
    session.get_spark(extra_conf={"spark.driver.defaultJavaOptions": "-Xuser",
                                  "spark.driver.extraJavaOptions": "-Xextra"})
    assert builder.launch_conf_dir == "/empty/conf"
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert builder.conf["spark.driver.defaultJavaOptions"] == "-Xcds -Xuser"
    assert builder.conf["spark.driver.extraJavaOptions"] == "-Xextra"


_CHILD = """
import sys
from pyspark import SparkContext
from big_data_analytics_project_spark.session import get_spark

get_spark("cds-test", master="local[1]", shuffle_partitions=1)
gateway = SparkContext._gateway
with open(f"/proc/{gateway.proc.pid}/maps") as f:
    print("mapped", sum(sys.argv[1] in line for line in f), flush=True)
SparkContext._active_spark_context.stop()
gateway.shutdown()
gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin, dumping first
gateway.proc.wait(timeout=180)
"""


def test_first_process_dumps_and_second_maps(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    cds_dir = tmp_path / "spark-graft"

    def child():
        out = subprocess.run([sys.executable, "-c", _CHILD, str(cds_dir / "driver-")],
                             env=env, cwd=tmp_path, capture_output=True, text=True,
                             timeout=300, check=True)
        return int(next(line.split()[1] for line in out.stdout.splitlines()
                        if line.startswith("mapped ")))

    assert child() == 0  # the first JVM dumps at exit and maps no archive of its own
    archives = list(cds_dir.glob("driver-*.jsa"))
    assert len(archives) == 1
    with open(archives[0], "rb") as f:
        assert f.read(4) == MAGIC
    assert child() > 0  # the second JVM maps it
