"""SparkSession factory with scale-oriented defaults.

The reference creates sessions ad-hoc with static tuning
(``src/spark/preprocessing.py:17-25``: driver 8g, 200 shuffle partitions;
``scripts/create_cluster.sh:40-42``: AQE + Kryo on Dataproc only).  We make
the scale-friendly configuration the default everywhere:

- AQE on (dynamic partition coalescing, skew-join splitting) — at 100 TB a
  static ``shuffle.partitions`` is always wrong for some stage; AQE
  right-sizes post-shuffle partitions from runtime statistics.
- Arrow on for every pandas interchange (vectorized, zero row-at-a-time).
- Kryo serializer.
- UTC session timezone so timestamp semantics are engine-independent
  (the reference's string-vs-timestamp trap, SURVEY §1.4).

When this process launches the driver JVM itself, ``get_spark`` starts it
from a dynamic AppCDS (class-data-sharing) archive, which shortens the cold
start: most of it is the JVM loading and verifying Spark's classes.  The
archive lives under ``$XDG_CACHE_HOME/spark-graft/`` (``~/.cache`` when
unset), keyed by the JDK and the driver classpath.  A launch that finds no
complete archive for its key dumps one when its JVM exits, which takes
about 10 s more at exit; deleting the directory resets it.  The JVM checks
the archive against its own classpath and JDK and falls back to normal
class loading on a mismatch, so a stale archive costs speed, never
correctness.  Cluster drivers are launched by their submitter and get no
archive; ``emit_properties`` leaves the option out.

Local sessions write streaming checkpoints (the offset, commit and source
logs, and the state-store deltas with their checksum files) through
Hadoop's ``FileSystem`` API instead of Spark's default ``FileContext``
manager.  Without libhadoop (the usual pip install), Hadoop's local
filesystem forks a ``chmod`` for every file it creates, and the
FileContext rename forks four ``readlink``s more: over a hundred
processes per micro-batch of the scoring stream.  Local ``rename`` is
atomic under POSIX, and the FileSystem manager keeps the metadata log's
no-overwrite rule as an exists check before the rename.  The key is
local-only: on HDFS the FileContext rename is what atomically refuses an
overwrite, so ``emit_properties`` leaves it out and clusters keep Spark's
default.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Tuned for the local[32] test harness; on a real cluster these are set by
# the submitter (spark-submit --conf) and AQE re-plans at runtime anyway.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.session.timeZone": "UTC",
    # 128 MiB input splits (default) are right for large parquet; make the
    # shuffle side explicit and AQE-coalescible.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # T8 — streaming lifecycle hygiene (reference stream_processor.py:106-107):
    # finish the in-flight micro-batch on shutdown instead of killing it, and
    # clean up temp checkpoint dirs when a query stops.
    "spark.streaming.stopGracefullyOnShutdown": "true",
    "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    "spark.sql.streaming.stopTimeout": "30000",
    # Local-only (see _LOCAL_ONLY_KEYS): without libhadoop every created
    # file forks a chmod and every FileContext rename four readlinks; the
    # FileSystem manager renames with one local, POSIX-atomic rename.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # reliable_pin's cluster branch writes a reliable checkpoint per
    # iteration round (CC/BFS/label-prop); without this static conf Spark
    # never deletes reliable checkpoint data mid-session, so a long
    # cluster session accumulates unbounded scratch (ADVICE r15).  With it
    # the ContextCleaner removes checkpoint files once the pinned RDD is
    # garbage-collected — i.e. as soon as the next round's pin supersedes
    # the previous one.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # The generated-code cache defaults to 100 entries (Spark 4.1
    # CODEGEN_CACHE_MAX_ENTRIES) — any application that runs more than a
    # handful of distinct queries per session overflows it and pays full
    # Janino recompilation of every WholeStageCodegen stage on every
    # re-execution.  The cache is per-JVM (driver and executors alike),
    # entries are compiled class handles (KBs each), so a few thousand
    # entries cost tens of MB and save ~50-100 ms of compiler time per
    # stage per query re-run on ANY deployment, local or cluster.
    # Measured r16 (/tmp-scale A/B over a 50-query chain, min-of-2):
    # 54.7 s at 100 → 47.5 s at 8192.
    "spark.sql.codegen.cache.maxEntries": "8192",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "big-data-analytics-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults applied."""
    master = master or os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or default_parallelism())
    if extra_conf:
        conf.update(extra_conf)
    cds = _class_data_sharing(conf)
    conf_dir = None
    if cds is not None:
        # defaultJavaOptions is prepended to extraJavaOptions, which callers
        # set themselves and would otherwise overwrite the option
        option, conf_dir = cds
        user = conf.get("spark.driver.defaultJavaOptions")
        conf["spark.driver.defaultJavaOptions"] = f"{option} {user}" if user else option
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _spark_conf_dir(conf_dir):
        return builder.getOrCreate()


_CDS_MAGIC = bytes.fromhex("a8ab0bf0")  # 0xf00baba8 as the JVM writes it (little-endian), last
# Other entries the launcher puts on the driver classpath: not keyed, so any
# of them means no archive (a non-empty directory also blocks the dump).
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES")


def _launch_conf_dir(spark_home: str, cds_dir: str) -> str | None:
    """The empty conf directory to launch with, or None for no archive.
    JDK 17 will not dump with a non-empty directory on the classpath, so
    ``$SPARK_HOME/conf`` is swapped for an empty directory, but only when
    the user set no ``SPARK_CONF_DIR`` and it holds nothing but templates:
    no file Spark would read is ever hidden."""
    if os.environ.get("SPARK_CONF_DIR"):
        return None
    home_conf = os.path.join(spark_home, "conf")
    if os.path.isdir(home_conf) and not all(
            f.endswith(".template") for f in os.listdir(home_conf)):
        return None
    empty = os.path.join(cds_dir, "conf")
    os.makedirs(empty, exist_ok=True)
    return None if os.listdir(empty) else empty


def _cds_key(conf_dir: str, jars_dir: str) -> str | None:
    """Hash of the JDK that ``spark-class`` runs and of the driver classpath
    (conf directory, then each jar's name, size and mtime, which the JVM
    checks too), or None when no JDK is found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\n{conf_dir}\n".encode())
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _archive_complete(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _CDS_MAGIC
    except OSError:
        return False


def _class_data_sharing(conf: dict[str, str]) -> tuple[str, str] | None:
    """``(java options, conf dir)`` for launching the driver JVM from an
    AppCDS archive, or None when this process launches no JVM or the
    archive cannot be used.  Maps a complete archive; otherwise dumps one at
    JVM exit, first deleting the incomplete file and other keys' archives.
    Never raises for a missing or unwritable cache."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if "spark.driver.extraClassPath" in conf or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cds_dir = os.path.join(cache, "spark-graft")
    try:
        os.makedirs(cds_dir, exist_ok=True)
        if not os.access(cds_dir, os.W_OK):
            return None
        conf_dir = _launch_conf_dir(spark_home, cds_dir)
        key = conf_dir and _cds_key(conf_dir, os.path.join(spark_home, "jars"))
        if not key:
            return None
        archive = os.path.join(cds_dir, f"driver-{key}.jsa")
        # a dump logs one warning per skipped class (thousands) to stdout,
        # which can fill a pipe whose reader has stopped reading it
        quiet = "-Xlog:cds*=off"
        if _archive_complete(archive):
            return f"-XX:SharedArchiveFile={archive} {quiet}", conf_dir
        for stale in glob.glob(os.path.join(cds_dir, "driver-*.jsa")):
            os.remove(stale)
    except OSError:
        return None
    return f"-XX:ArchiveClassesAtExit={archive} {quiet}", conf_dir


@contextmanager
def _spark_conf_dir(path: str | None):
    """``SPARK_CONF_DIR`` set to ``path`` for the JVM launch only."""
    old = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs needed for deterministic cross-engine
    comparison to an externally-provided session (the driver owns the
    session passed to ``__spark_entry__.queries()``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# Keys that only make sense on the local test harness and must NOT ride a
# cluster properties file: driver sizing belongs to the submitter, the UI
# is disabled locally only to keep the 32-thread harness lean, and the
# FileSystem checkpoint manager is safe only where rename is atomic (HDFS
# needs FileContext's overwrite-refusing rename).
_LOCAL_ONLY_KEYS = ("spark.driver.memory", "spark.ui.enabled",
                    "spark.sql.streaming.checkpointFileManagerClass")


def emit_properties(shuffle_partitions: int | None = None) -> str:
    """The engine's defaults as a ``spark-submit --properties-file`` body —
    the single source of truth the U5 submit wrapper
    (``scripts/submit_job.sh``) ships to a cluster, so in-process sessions
    and submitted jobs can never drift apart on Spark-level tuning."""
    conf = {k: v for k, v in _DEFAULTS.items() if k not in _LOCAL_ONLY_KEYS}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return "\n".join(f"{k} {v}" for k, v in sorted(conf.items())) + "\n"


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser(description="emit engine Spark conf")
    p.add_argument("--emit-conf", action="store_true", required=True)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args()
    print(emit_properties(args.shuffle_partitions), end="")
