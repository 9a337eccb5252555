"""Standalone Master/Worker E2E inside the suite (r10 verdict task #6).

tools/standalone_cluster_smoke.py proved the real-process path
(spark:// master + worker JVMs, package shipping, pandas_udf through
remote Python workers) but only as an out-of-band tool whose JSON the
suite never checked — a cluster.py regression could ship with a stale
green smoke artifact.  These tests run the launchers in SUBPROCESSES
(a second SparkContext cannot exist in the suite's JVM, and standalone
attach needs its own driver), so the full suite now exercises:

- Master+Worker bring-up, session attach over a real RPC port;
- a shuffle aggregation and a multi-join through worker executor JVMs;
- the pandas_udf path (dedup_semantic) through shipped-package Python
  workers;
- the r10 hardening: Scheduler.master_url raises once the launched
  Master is dead, and repeated launch/stop cycles do not leak parent
  file descriptors (the log-fd leak closed in cluster.py).

Reference parity: the reference's scheduler/executor are real server
processes (src/scheduler.rs:33-71, src/executor.rs:29-75); these are
the Spark-standalone equivalents per SURVEY §3.3.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout):
    return subprocess.run(
        args,
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
        env={**os.environ, "PYTHONPATH": _REPO},
    )


@pytest.mark.slow
def test_standalone_master_worker_end_to_end(tmp_path):
    # the report goes to tmp_path: the suite must not rewrite the
    # committed tools/standalone_cluster_smoke.json
    report = tmp_path / "standalone_cluster_smoke.json"
    proc = _run(
        [sys.executable, "tools/standalone_cluster_smoke.py", "--out", str(report)],
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, f"no smoke output; stderr tail: {proc.stderr[-800:]}"
    out = json.loads(lines[-1])
    assert json.loads(report.read_text()) == out
    assert out["ok"], f"standalone smoke failed: {out}"
    assert out["master_url"].startswith("spark://")
    # driver + at least one REAL executor registered a block manager
    assert out["n_block_managers"] >= 2, out
    results = out["results"]
    # shuffle agg, multi-join, and the pandas_udf (shipped-package) path
    for name in ("q1_pricing_summary", "q5_region_revenue", "dedup_semantic"):
        assert name in results and "error" not in results[name], results
        assert results[name]["rows"] > 0, results


@pytest.mark.slow
def test_launcher_fd_stability_and_dead_master_raises():
    """Three real Master launch/stop cycles must not grow the parent's fd
    count (the r10 log-fd leak), and master_url must raise — not hand out
    a dead spark:// URL — once the launched Master is stopped."""
    script = r"""
import json, os, sys
sys.path.insert(0, os.getcwd())
from datafusion_ballista_python_spark.cluster import Scheduler

def nfds():
    return len(os.listdir("/proc/self/fd"))

counts = []
s0 = Scheduler()
s0.start(); s0.stop()  # warm imports/logging so later counts are steady
for _ in range(3):
    s = Scheduler()
    s.start()
    s.stop()
    counts.append(nfds())
dead = Scheduler()
dead.start()
dead._process.popen.kill()
dead._process.popen.wait()
try:
    _ = dead.master_url
    dead_raises = False
except Exception:
    dead_raises = True
dead.stop()
print(json.dumps({"fd_counts": counts, "dead_raises": dead_raises}))
"""
    proc = _run([sys.executable, "-c", script], timeout=300)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, f"no output; stderr tail: {proc.stderr[-800:]}"
    out = json.loads(lines[-1])
    assert out["dead_raises"], "master_url handed out a dead spark:// URL"
    counts = out["fd_counts"]
    assert counts[-1] <= counts[0], (
        f"fd count grew across launch/stop cycles: {counts} — "
        "a per-launch descriptor leak is back (cluster.py log fd)"
    )
