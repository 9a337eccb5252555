"""Scheduler REST/metrics API E2E (reference docs/source/user-guide/
scheduler.md REST table + metrics.md prometheus set): every route served
over real HTTP, metrics scraped in prometheus exposition format."""

import json
import urllib.request

import pytest

from datafusion_ballista_python_spark.cluster import Scheduler
from datafusion_ballista_python_spark.metrics import start_scheduler_api


@pytest.fixture(scope="module")
def api_server(spark, sf_dir):
    # ensure at least one SQL execution + job exists in the status store
    spark.sql("SELECT count(*) AS n FROM range(100000)").collect()
    srv = start_scheduler_api(spark, port=0)
    yield srv
    srv.shutdown()


def _get(srv, path: str):
    # 60s timeout + one retry: under a saturated full-suite run (32 cores
    # busy with neighboring Spark tests) the server thread can be starved
    # past a tight client timeout — the r6 full-suite flake was a client
    # socket TimeoutError on a request that passes in isolation.  HTTP
    # errors (4xx) propagate immediately; only timeouts retry.
    url = f"http://127.0.0.1:{srv.port}{path}"
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, r.read().decode(), r.headers.get("Content-Type", "")
    except TimeoutError:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, r.read().decode(), r.headers.get("Content-Type", "")


def _codegen_compilations(srv) -> int:
    body = _get(srv, "/api/metrics")[1]
    return next(
        int(l.rsplit(" ", 1)[1])
        for l in body.splitlines()
        if l.startswith("codegen_compilations_total ")
    )


def test_api_jobs_lists_submitted_jobs(api_server):
    status, body, ctype = _get(api_server, "/api/jobs")
    assert status == 200 and ctype.startswith("application/json")
    jobs = json.loads(body)
    assert len(jobs) >= 1
    j = jobs[0]
    for key in ("job_id", "job_name", "status", "submitted", "completed",
                "num_tasks", "completed_tasks", "stage_ids"):
        assert key in j
    assert any(job["status"] == "SUCCEEDED" for job in jobs)


def test_api_job_summary_and_404(api_server):
    jobs = json.loads(_get(api_server, "/api/jobs")[1])
    jid = jobs[0]["job_id"]
    status, body, _ = _get(api_server, f"/api/job/{jid}")
    assert status == 200
    assert json.loads(body)["job_id"] == jid

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(api_server, "/api/job/999999")
    assert ei.value.code == 404


def test_api_job_dot_is_real_graphviz(api_server):
    jobs = json.loads(_get(api_server, "/api/jobs")[1])
    # NEWEST job id: under a full-suite shared session thousands of jobs
    # have run and the status store evicts old RDD operation graphs
    # (spark.ui.retainedGraphs), so an arbitrary list position can 404 —
    # the fixture's own fresh job is always retained
    jid = max(j["job_id"] for j in jobs)
    status, dot, ctype = _get(api_server, f"/api/job/{jid}/dot")
    assert status == 200 and "graphviz" in ctype
    assert dot.startswith("digraph G {")
    assert "Stage" in dot  # Spark's DAG-viz stage clusters


def test_api_metrics_prometheus_set(api_server, spark):
    status, body, ctype = _get(api_server, "/api/metrics")
    assert status == 200 and ctype.startswith("text/plain")
    # the reference's full metric set (metrics.md:27-35), plus the codegen
    # compile counter
    for name in (
        "job_exec_time_seconds",
        "planning_time_ms",
        "failed",
        "job_failed_total",
        "job_cancelled_total",
        "job_completed_total",
        "job_submitted_total",
        "pending_task_queue_size",
        "codegen_compilations_total",
    ):
        assert f"\n{name}" in body or body.startswith(name), name
    # histograms well-formed: buckets monotone, count == +Inf bucket
    lines = body.splitlines()
    exec_buckets = [
        float(l.rsplit(" ", 1)[1])
        for l in lines
        if l.startswith('job_exec_time_seconds_bucket')
    ]
    assert exec_buckets == sorted(exec_buckets)
    count = next(
        float(l.rsplit(" ", 1)[1])
        for l in lines
        if l.startswith("job_exec_time_seconds_count")
    )
    assert exec_buckets[-1] == count >= 1  # at least one successful job timed
    plan_count = next(
        float(l.rsplit(" ", 1)[1])
        for l in lines
        if l.startswith("planning_time_ms_count")
    )
    assert plan_count >= 1  # at least one SQL execution planned
    # a query shape run twice is compiled once: the second run hits the
    # codegen cache and leaves the counter where the first left it
    def run():
        spark.range(1000).selectExpr("id % 7919 AS k").groupBy("k").count().collect()

    run()
    compiled = _codegen_compilations(api_server)
    assert compiled >= 1
    run()
    assert _codegen_compilations(api_server) == compiled


def test_api_cancel_counts(api_server, spark):
    jobs = json.loads(_get(api_server, "/api/jobs")[1])
    jid = jobs[0]["job_id"]  # already finished; cancel is a no-op but counted
    req = urllib.request.Request(
        f"http://127.0.0.1:{api_server.port}/api/job/{jid}", method="PATCH"
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
        assert json.loads(r.read().decode())["cancelled"] is True
    body = _get(api_server, "/api/metrics")[1]
    cancelled = next(
        int(l.rsplit(" ", 1)[1])
        for l in body.splitlines()
        if l.startswith("job_cancelled_total ")
    )
    assert cancelled >= 1


def test_scheduler_shim_serves_api(spark):
    srv = Scheduler().start_api(spark, port=0)
    try:
        status, body, _ = _get(srv, "/api/jobs")
        assert status == 200 and isinstance(json.loads(body), list)
    finally:
        srv.shutdown()


def test_api_job_dot_unknown_job_is_404(api_server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(api_server, "/api/job/999999/dot")
    assert ei.value.code == 404
