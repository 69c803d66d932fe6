"""Streaming checkpoints on a local session: the FileSystem-based manager
that ``get_spark`` configures, its no-overwrite rule, restart from a
durable checkpoint, and the process spawns it avoids."""

import os
import shutil
import subprocess

import pytest

from big_data_analytics_project_spark.session import _DEFAULTS
from big_data_analytics_project_spark.sources import read_table
from big_data_analytics_project_spark.streaming import processor as P
from big_data_analytics_project_spark.streaming.bridge import (
    MetricsStore,
    OnlineScoringBridge,
    run_scored_stream,
)

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _manager(spark, path):
    """The checkpoint file manager a streaming query of this session makes
    for ``path``."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)), conf)


def test_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    assert _DEFAULTS["spark.sql.streaming.checkpointFileManagerClass"] == FS_MANAGER
    assert _manager(spark, tmp_path).getClass().getName() == FS_MANAGER


def test_atomic_create_refuses_to_overwrite(spark, tmp_path):
    """The metadata log detects a second writer of a batch by the atomic
    create refusing an existing file (``overwriteIfPossible=false``): the
    FileSystem manager checks existence before its rename, on close."""
    jvm = spark._jvm
    mgr = _manager(spark, tmp_path)
    assert mgr.getClass().getName() == FS_MANAGER
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = mgr.createAtomic(target, False)
    first.write(bytearray(b"first"))
    first.close()
    second = mgr.createAtomic(target, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def _drain_with_checkpoint(agg, name, ckpt):
    agg.writeStream.outputMode("complete").format("memory").queryName(name).option(
        "checkpointLocation", ckpt).trigger(availableNow=True).start().awaitTermination()
    return agg.sparkSession.table(name)


def test_drain_continued_from_its_checkpoint_equals_one_shot(spark, sf_dir, tmp_path):
    """Three staged files drained into a durable checkpoint, then two more
    drained from that same checkpoint, give the one-shot five-file
    aggregate (the HLL distinct estimate aside)."""
    staged = P.stage_json_stream(spark, sf_dir, "events", n_files=5)
    live = tmp_path / "live"
    live.mkdir()
    ckpt = str(tmp_path / "ckpt")
    assert _manager(spark, ckpt).getClass().getName() == FS_MANAGER
    try:
        parts = sorted(f for f in os.listdir(staged) if f.startswith("part-"))
        assert len(parts) == 5

        def features():
            return P.tumbling_features(P.read_event_stream(spark, str(live)))

        for f in parts[:3]:
            shutil.copy2(os.path.join(staged, f), live)
        _drain_with_checkpoint(features(), "t_ckpt_first", ckpt)
        for f in parts[3:]:
            shutil.copy2(os.path.join(staged, f), live)
        continued = _drain_with_checkpoint(features(), "t_ckpt_continued", ckpt)
        one_shot = P.run_to_completion(
            P.tumbling_features(P.read_event_stream(spark, staged)), "t_ckpt_one_shot")
    finally:
        shutil.rmtree(staged, ignore_errors=True)

    def rows(df):
        return sorted(df.drop("unique_items_approx").collect())

    expected = rows(one_shot)
    assert expected and rows(continued) == expected
    assert sum(r.total_events for r in expected) == read_table(spark, sf_dir, "events").count()


def _jdk_tool(name):
    java_home = os.environ.get("JAVA_HOME")
    tool = java_home and os.path.join(java_home, "bin", name)
    return tool if tool and os.path.exists(tool) else shutil.which(name)


def test_scored_drain_spawns_no_readlink(spark, tmp_path):
    """Without libhadoop, FileContext's local rename forks four
    ``readlink``s; the FileSystem manager's rename forks none.  A JFR
    recording of process starts on the driver JVM over a three-file scored
    drain must show no ``readlink``, and shows the control process this
    test starts itself."""
    from pyspark import SparkContext

    jcmd, jfr = _jdk_tool("jcmd"), _jdk_tool("jfr")
    if not (jcmd and jfr):
        pytest.skip("the JDK has no jcmd/jfr")
    src = tmp_path / "events"
    src.mkdir()
    for k in range(3):
        path = src / f"f{k}.json"
        path.write_text("".join(
            f'{{"event_id": {100 * k + i}, "ts": "2024-01-02 1{k}:{i:02d}:00", '
            f'"user_id": {i % 7}, "event_type": "view", "value": 1.0, "props": "{{}}"}}\n'
            for i in range(40)))
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    settings = tmp_path / "spawns.jfc"
    settings.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n<configuration version="2.0">\n'
        '  <event name="jdk.ProcessStart"><setting name="enabled">true</setting>'
        "</event>\n</configuration>\n")
    recording = tmp_path / "spawns.jfr"
    pid = str(SparkContext._gateway.proc.pid)
    name = f"spawns-{os.getpid()}"
    subprocess.run([jcmd, pid, "JFR.start", f"name={name}", f"settings={settings}",
                    f"filename={recording}"], check=True, capture_output=True)
    try:
        bridge = OnlineScoringBridge(store=MetricsStore(str(tmp_path / "metrics.json")))
        run_scored_stream(P.tumbling_features(P.read_event_stream(spark, str(src))), bridge)
        spark._jvm.java.lang.ProcessBuilder(["true"]).start().waitFor()
    finally:
        subprocess.run([jcmd, pid, "JFR.stop", f"name={name}"], check=True,
                       capture_output=True)
    assert len(bridge.batches) == 3
    events = subprocess.run([jfr, "print", "--events", "jdk.ProcessStart", str(recording)],
                            check=True, capture_output=True, text=True).stdout
    commands = [line.split("=", 1)[1].strip().strip('"').split()[0]
                for line in events.splitlines() if line.strip().startswith("command =")]
    assert "true" in commands
    assert "readlink" not in commands, commands
