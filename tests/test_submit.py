"""U5 submit wrapper: the cluster-agnostic spark-submit launcher and its
session-derived properties file (single tuning source of truth)."""

import subprocess
import sys
from pathlib import Path

from big_data_analytics_project_spark.session import (
    _DEFAULTS,
    _LOCAL_ONLY_KEYS,
    emit_properties,
)

REPO = Path(__file__).resolve().parent.parent


def test_emit_properties_matches_session_defaults():
    props = dict(
        line.split(" ", 1) for line in emit_properties(20000).strip().splitlines()
    )
    assert props["spark.sql.adaptive.enabled"] == "true"
    assert props["spark.serializer"].endswith("KryoSerializer")
    assert props["spark.sql.shuffle.partitions"] == "20000"
    # local-only keys never ride to a cluster: a cluster keeps Spark's
    # FileContext checkpoint manager, whose HDFS rename refuses overwrites
    assert {"spark.driver.memory", "spark.ui.enabled"} <= set(_LOCAL_ONLY_KEYS)
    assert "spark.sql.streaming.checkpointFileManagerClass" not in props
    for k in _LOCAL_ONLY_KEYS:
        assert k not in props
    # everything else IS the in-process default set — no drift possible
    for k, v in _DEFAULTS.items():
        if k not in _LOCAL_ONLY_KEYS:
            assert props[k] == v


def test_emit_conf_cli():
    out = subprocess.run(
        [sys.executable, "-m", "big_data_analytics_project_spark.session",
         "--emit-conf", "--shuffle-partitions", "123"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    assert "spark.sql.shuffle.partitions 123" in out
    assert "spark.sql.adaptive.enabled true" in out


def test_submit_wrapper_composes_spark_submit(tmp_path):
    """Run the wrapper with spark-submit stubbed to a recorder: geometry
    flags, the derived shuffle-partition default (2x total cores), and the
    session-emitted properties file must all appear."""
    recorder = tmp_path / "record.sh"
    log = tmp_path / "argv.txt"
    recorder.write_text(
        "#!/usr/bin/env bash\n"
        f'printf "%s\\n" "$@" > {log}\n'
        # snapshot the props file before the wrapper's trap removes it
        'while [ "$1" != "--properties-file" ]; do shift; done\n'
        f"cp \"$2\" {tmp_path / 'props.txt'}\n"
    )
    recorder.chmod(0o755)
    job = tmp_path / "job.py"
    job.write_text("print('hi')\n")
    subprocess.run(
        ["bash", str(REPO / "scripts" / "submit_job.sh"), str(job), "--day", "2026-01-01"],
        cwd=REPO, check=True,
        env={
            "PATH": "/usr/bin:/bin",
            "SPARK_SUBMIT": str(recorder),
            "PYTHON": sys.executable,
            "MASTER": "yarn",
            "NUM_EXECUTORS": "100",
            "EXECUTOR_CORES": "4",
        },
    )
    argv = log.read_text().splitlines()
    assert argv[argv.index("--master") + 1] == "yarn"
    assert argv[argv.index("--num-executors") + 1] == "100"
    # default shuffle partitions = 2 * 100 executors * 4 cores
    props = (tmp_path / "props.txt").read_text()
    assert "spark.sql.shuffle.partitions 800" in props
    assert "spark.sql.adaptive.enabled true" in props
    # job + its args pass through untouched, after the submit flags
    assert argv[-2:] == [str(job), "--day", "2026-01-01"][-2:]
    assert str(job) in argv


def test_submit_wrapper_requires_a_job():
    r = subprocess.run(
        ["bash", str(REPO / "scripts" / "submit_job.sh")],
        cwd=REPO, capture_output=True, text=True,
        env={"PATH": "/usr/bin:/bin", "SPARK_SUBMIT": "/bin/true"},
    )
    assert r.returncode == 2
    assert "usage:" in r.stderr
