"""Drivers in their own process: ``BallistaContext()`` started outside the
repo root, ``tools/profile_stages.py`` and ``tools/ab.py``.

They run as subprocesses because a second SparkContext cannot exist in the
suite's JVM.  Each uses ``SPARK_GRAFT_CPUS=2`` and the cheap ``fn_math``
entry at the suite's scale factor.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, cwd=_REPO, timeout=600):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    return subprocess.run(
        args, cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout
    )


def test_python_workers_import_package_from_foreign_cwd(tmp_path, sf_dir):
    # udaf_geomean runs its accumulator in Python workers, which see the
    # driver's cwd and PYTHONPATH but not its sys.path edits.  The session
    # is the product default, BallistaContext() with no arguments, so the
    # same driver shows what a user gets: the bench's core rule and confs,
    # and a codegen cache sized from the session even when the first
    # compile happens on another thread.
    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent(f"""
        import json, sys, threading
        sys.path.insert(0, {_REPO!r})
        from datafusion_ballista_python_spark import BallistaContext
        from datafusion_ballista_python_spark.cluster import Executor, Scheduler
        from datafusion_ballista_python_spark.corpus import load_all
        from datafusion_ballista_python_spark.metrics import codegen_compilations
        from datafusion_ballista_python_spark.session import DRIVER_CONFS
        from tests.oracle_harness import compare, duckdb_con

        spark = BallistaContext().spark
        sc = spark.sparkContext
        jvm = spark._jvm.java.lang
        cache_max = spark._jvm.org.apache.spark.sql.internal.SQLConf.get() \
            .codegenCacheMaxEntries()
        # the JVM's first codegen, on a thread with no active session and
        # outside a SQL execution (planning df.rdd), then more distinct
        # plans than Spark's default 100-entry cache holds (the literal is
        # inlined into the generated source); the first plan must still be
        # cached
        first = lambda: spark.range(3).selectExpr("id * 7 + 1").rdd.collect()
        t = threading.Thread(target=first)
        t.start()
        t.join()
        first_compiled = codegen_compilations(spark)
        for i in range(120):
            spark.range(3).selectExpr(f"id * {{1000 + i}} + 1").collect()
        before = codegen_compilations(spark)
        first()
        recompiled = codegen_compilations(spark) - before
        spec = load_all()["udaf_geomean"]
        con = duckdb_con({sf_dir!r})
        ok, msg = compare(spec.fn(spark, {sf_dir!r}), con.sql(spec.oracle).df())
        out = {{
            "ok": ok, "msg": msg, "master": sc.master,
            "scheduler_master": Scheduler().master_url,
            "executor_tasks": Executor().concurrent_tasks,
            "missing_confs": [k for k in DRIVER_CONFS if not sc.getConf().contains(k)],
            "jvm_args": list(jvm.management.ManagementFactory.getRuntimeMXBean()
                             .getInputArguments()),
            "max_memory": jvm.Runtime.getRuntime().maxMemory(),
            "cache_max": cache_max, "first_compiled": first_compiled,
            "recompiled": recompiled,
        }}
        spark.stop()
        print(json.dumps(out))
    """))
    proc = _run([sys.executable, str(probe)], cwd=tmp_path)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["ok"], out["msg"]
    assert out["master"] == "local[2]"
    assert out["scheduler_master"] == "local[2]"
    assert out["executor_tasks"] == 2
    assert out["missing_confs"] == []
    assert "-XX:ReservedCodeCacheSize=512m" in out["jvm_args"]
    assert out["max_memory"] > 4 << 30
    assert out["cache_max"] == 2000
    assert out["first_compiled"] >= 1
    assert out["recompiled"] == 0


def test_profile_stages_report(tmp_path, sf_dir):
    report = tmp_path / "profile.json"
    proc = _run([sys.executable, "tools/profile_stages.py", "fn_math",
                 "--sf", sf_dir, "--out", str(report)])
    assert proc.returncode == 0, proc.stderr[-3000:]
    q = json.loads(report.read_text())["queries"]["fn_math"]
    assert q["wall_sec"] > 0 and q["build_sec"] >= 0
    assert q["codegen_compiles"] >= 0
    assert len(q["jobs"]) >= 1
    assert all(j["wall_ms"] is not None and j["wall_ms"] >= 0 for j in q["jobs"])
    assert q["stages"]
    assert "Physical Plan" in q["plan"]


def test_ab_run_order_alternates():
    from tools.ab import run_order

    assert run_order(3) == [["A", "B"], ["B", "A"], ["A", "B"]]


def test_ab_working_tree_against_itself(sf_dir):
    proc = _run([sys.executable, "tools/ab.py", ".", ".", "fn_math",
                 "--reps", "1", "--sf", sf_dir])
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["cpus"] == "2"
    assert out["order"] == [["A", "B"]]
    q = out["queries"]["fn_math"]
    assert len(q["A"]) == len(q["B"]) == 1
    assert q["A"][0] > 0 and q["B"][0] > 0
    assert q["A_stats"]["median"] == q["A_stats"]["min"] == q["A"][0]
    assert q["A_wins"] in (0, 1)


@pytest.mark.parametrize(
    "args, message",
    [
        ([".", "no-such-rev-xyz", "fn_math"], "unknown revision 'no-such-rev-xyz'"),
        ([".", ".", "no_such_query"], "unknown corpus entries ['no_such_query']"),
    ],
)
def test_ab_rejects_unknown_names(args, message):
    proc = _run([sys.executable, "tools/ab.py", *args, "--reps", "1"], timeout=120)
    assert proc.returncode != 0
    assert message in proc.stderr
