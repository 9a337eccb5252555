"""One way to build a session (``session.build_session``).

Every session of ``BallistaContext``, the CLI, ``Scheduler``, the bench,
the tests and ``tools/`` is built by ``session.py``, so none of them can
drift from the driver confs the bench measures with (the code-cache flag
above all), its core count or its log level.  No other package module
reads a ``SPARK_GRAFT_*`` variable, so there are no env modes.
``BallistaContext.set_conf`` still overrides a session conf afterwards.
The event-log parser these sessions feed
(``tools.profile_stages.parse_event_log``) is pinned here on a synthetic
log, Spark-free.
"""

from __future__ import annotations

import json
import os
import re
import subprocess

from datafusion_ballista_python_spark.session import DRIVER_CONFS
from tools.profile_stages import parse_event_log

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_builder_only_in_session_module():
    # what only the builder may do: build a session, set its log level,
    # switch its UI, read the core count.  perfbench/ drives the engine the
    # way a user script would and is not part of the package.
    session = "datafusion_ballista_python_spark/session.py"
    builder = "SparkSession" + ".builder"
    needles = [
        builder,
        "setLog" + "Level",
        '"spark.ui' + '.enabled"',
        'os.environ.get("SPARK_GRAFT' + '_CPUS"',
        'os.environ["SPARK_GRAFT' + '_CPUS"]',
    ]
    tracked = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=_REPO, capture_output=True, text=True,
        check=True,
    ).stdout.split()
    assert tracked
    found = {needle: [] for needle in needles}
    for rel in tracked:
        if rel.startswith("perfbench/"):
            continue
        with open(os.path.join(_REPO, rel), errors="replace") as fh:
            text = fh.read()
        for needle in needles:
            if needle in text:
                found[needle].append(rel)
    assert found[builder] == [session]
    assert {rel for files in found.values() for rel in files} == {session}, found


def test_no_env_modes_outside_session_module():
    # the package's one environment knob is the core count, read by
    # session.local_cpus; an operator that branches on a SPARK_GRAFT_*
    # variable is a mode the bench and the oracles never see
    read = re.compile(r"(?:environ|getenv)\b[^\n]*[\"']SPARK_GRAFT_")
    tracked = subprocess.run(
        ["git", "ls-files", "datafusion_ballista_python_spark/*.py"],
        cwd=_REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    session = "datafusion_ballista_python_spark/session.py"
    assert session in tracked
    readers = []
    for rel in tracked:
        with open(os.path.join(_REPO, rel), errors="replace") as fh:
            if read.search(fh.read()):
                readers.append(rel)
    assert readers == [session]


def test_suite_session_carries_local_driver_confs(spark):
    conf = spark.sparkContext.getConf()
    # Spark prepends its own module flags to extraJavaOptions: check the
    # driver JVM's actual arguments for ours
    jvm_args = set(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    java_opts = DRIVER_CONFS["spark.driver.extraJavaOptions"].split()
    assert "-XX:ReservedCodeCacheSize=512m" in java_opts
    assert set(java_opts) <= jvm_args
    for key, value in DRIVER_CONFS.items():
        if key != "spark.driver.extraJavaOptions":
            assert conf.get(key) == value, key


def test_parse_event_log_job_times(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "profile:q"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Name": "collect at x.py:1", "Number of Tasks": 1,
            "Submission Time": 1100, "Completion Time": 1400}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {
            "Launch Time": 1100, "Finish Time": 1300},
         "Task Metrics": {"Executor Run Time": 150}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
    ]
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    # the job's end is in a second rolled file, as Spark 4 may write it
    (log / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    (log / "events_2_app").write_text(json.dumps(
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500}))

    parsed = parse_event_log(str(tmp_path))
    assert parsed["jobs"][0]["description"] == "profile:q"
    assert parsed["jobs"][0]["stage_ids"] == [0, 1]
    assert parsed["jobs"][0]["wall_ms"] == 500
    assert parsed["jobs"][1]["description"] is None
    assert parsed["jobs"][1]["wall_ms"] is None  # never ended
    assert parsed["stages"][1]["wall_ms"] == 300
    assert parsed["stages"][1]["exec_run_ms"] == 150


def test_set_conf_overrides_session_conf(ctx):
    # the production override of a DRIVER_CONFS / _RUNTIME_CONFS default;
    # the suite shares this session, so both values are put back
    spark = ctx.spark
    policy = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    keys = ("spark.sql.shuffle.partitions", policy)
    before = {key: spark.conf.get(key) for key in keys}
    try:
        ctx.set_conf("ballista.shuffle.partitions", 7)
        ctx.set_conf(policy, "false")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get(policy) == "false"
    finally:
        for key, value in before.items():
            spark.conf.set(key, value)
