"""Scheduler REST / metrics API — parity with the reference scheduler's
monitoring surface (reference ``docs/source/user-guide/scheduler.md``
REST table and ``docs/source/user-guide/metrics.md:27-35``):

| route                   | method | reference behavior                 |
|-------------------------|--------|------------------------------------|
| ``/api/jobs``           | GET    | list submitted jobs                |
| ``/api/job/{id}``       | GET    | one job's summary                  |
| ``/api/job/{id}/dot``   | GET    | query plan in DOT (graphviz)       |
| ``/api/job/{id}``       | PATCH  | cancel a running job               |
| ``/api/metrics``        | GET    | prometheus metric set              |

Everything is read straight from Spark's AppStatusStore — the same store
Spark's own UI/REST API serves from — so the shim adds no bookkeeping on
the query path.  The DOT route returns Spark's real RDD-operation DAG
(``RDDOperationGraph.makeDotFile``), scopes, stages and codegen clusters
included.

Prometheus metrics map the reference's names onto Spark equivalents:

- ``job_exec_time_seconds``  — histogram over completed jobs'
  (completionTime - submissionTime);
- ``planning_time_ms``       — histogram over SQL executions'
  (first job submission - execution submission): the window in which
  Catalyst parses/analyzes/optimizes/plans before any task runs;
- ``failed`` / ``job_failed_total`` / ``job_cancelled_total`` /
  ``job_completed_total`` / ``job_submitted_total`` — job counters;
- ``pending_task_queue_size`` — tasks not yet started in active stages;
- ``codegen_compilations_total`` — codegen classes the driver JVM has
  compiled (Spark's ``CodegenMetrics``); it rises on a codegen-cache
  miss, so a repeated query shape that still adds to it is being
  recompiled.

Scale: the status store is driver-local and O(retained jobs)
(``spark.ui.retainedJobs``); the endpoint reads a bounded snapshot per
request, so scraping at 100 TB costs the same as on a laptop.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from pyspark.sql import SparkSession

_EXEC_BUCKETS = [0.5, 1.0, 2.5, 5.0, 10.0, 30.0, 60.0, 120.0, 300.0, 600.0]
_PLAN_BUCKETS = [1.0, 5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0, 5000.0]


def codegen_compilations(spark: SparkSession) -> int:
    """Codegen classes the driver JVM has compiled so far (a cache miss
    compiles; a cached plan shape does not)."""
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt_millis(opt) -> Optional[int]:
    """scala Option[java.util.Date] -> epoch millis."""
    return opt.get().getTime() if opt.isDefined() else None


class SchedulerApi:
    """Snapshot accessors over Spark's status stores, one per route."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._cancelled = 0

    # -- snapshots ---------------------------------------------------------

    def _job_store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _raw_jobs(self) -> list:
        return _scala_seq(self._job_store().jobsList(None))

    @staticmethod
    def _job_dict(j) -> dict:
        return {
            "job_id": j.jobId(),
            "job_name": j.name(),
            "status": j.status().toString(),
            "submitted": _opt_millis(j.submissionTime()),
            "completed": _opt_millis(j.completionTime()),
            "num_tasks": j.numTasks(),
            "completed_tasks": j.numCompletedTasks(),
            "failed_tasks": j.numFailedTasks(),
            "stage_ids": _scala_seq(j.stageIds()),
        }

    def jobs(self) -> list[dict]:
        """GET /api/jobs."""
        return [self._job_dict(j) for j in self._raw_jobs()]

    def job(self, job_id: int) -> Optional[dict]:
        """GET /api/job/{id}."""
        for j in self._raw_jobs():
            if j.jobId() == job_id:
                return self._job_dict(j)
        return None

    def job_dot(self, job_id: int) -> Optional[str]:
        """GET /api/job/{id}/dot — Spark's own DAG-viz DOT (stages, scopes,
        codegen clusters), concatenated over the job's stages."""
        store = self._job_store()
        try:
            graphs = _scala_seq(store.operationGraphForJob(job_id))
        except Exception:
            # AppStatusStore throws NoSuchElementException for unknown
            # jobs — surface as 404, not a dropped connection
            return None
        if not graphs:
            return None
        jvm = self.spark.sparkContext._jvm
        make = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
        return "\n".join(make(g) for g in graphs)

    def cancel(self, job_id: int) -> bool:
        """PATCH /api/job/{id} — cancel a running job."""
        self.spark.sparkContext._jsc.sc().cancelJob(job_id)
        self._cancelled += 1
        return True

    # -- metrics -----------------------------------------------------------

    def _planning_times_ms(self) -> list[float]:
        """Per SQL execution: submission -> first job submission (Catalyst
        parse/analyze/optimize/plan window); falls back to the execution's
        full duration for job-less (metadata-only) queries."""
        sstore = self.spark._jsparkSession.sharedState().statusStore()
        job_submitted = {
            j.jobId(): _opt_millis(j.submissionTime()) for j in self._raw_jobs()
        }
        out: list[float] = []
        for e in _scala_seq(sstore.executionsList()):
            start = e.submissionTime()
            jm = e.jobs()
            it = jm.keysIterator()
            starts = []
            for _ in range(jm.size()):
                jid = it.next()
                ms = job_submitted.get(jid)
                if ms is not None:
                    starts.append(ms)
            if starts:
                out.append(max(0.0, min(starts) - start))
            else:
                end = e.completionTime()
                if end.isDefined():
                    out.append(max(0.0, end.get().getTime() - start))
        return out

    @staticmethod
    def _histogram(name: str, help_text: str, values: list[float], buckets: list[float]) -> list[str]:
        lines = [f"# HELP {name} {help_text}", f"# TYPE {name} histogram"]
        cumulative = 0
        remaining = sorted(values)
        idx = 0
        for b in buckets:
            while idx < len(remaining) and remaining[idx] <= b:
                idx += 1
            cumulative = idx
            lines.append(f'{name}_bucket{{le="{b}"}} {cumulative}')
        lines.append(f'{name}_bucket{{le="+Inf"}} {len(values)}')
        lines.append(f"{name}_sum {round(sum(values), 6)}")
        lines.append(f"{name}_count {len(values)}")
        return lines

    @staticmethod
    def _counter(name: str, help_text: str, value) -> list[str]:
        return [f"# HELP {name} {help_text}", f"# TYPE {name} counter", f"{name} {value}"]

    def prometheus_metrics(self) -> str:
        """GET /api/metrics — the reference's metric set (metrics.md:27-35)
        in prometheus text exposition format."""
        jobs = [self._job_dict(j) for j in self._raw_jobs()]
        exec_secs = [
            (j["completed"] - j["submitted"]) / 1000.0
            for j in jobs
            if j["status"] == "SUCCEEDED"
            and j["submitted"] is not None
            and j["completed"] is not None
        ]
        n_failed = sum(1 for j in jobs if j["status"] == "FAILED")
        n_completed = sum(1 for j in jobs if j["status"] == "SUCCEEDED")
        pending = 0
        tracker = self.spark.sparkContext.statusTracker()
        for sid in tracker.getActiveStageIds():
            info = tracker.getStageInfo(sid)
            if info:
                pending += max(
                    0, info.numTasks - info.numActiveTasks - info.numCompletedTasks
                )
        lines: list[str] = []
        lines += self._histogram(
            "job_exec_time_seconds",
            "Histogram of successful job execution time in seconds",
            exec_secs,
            _EXEC_BUCKETS,
        )
        lines += self._histogram(
            "planning_time_ms",
            "Histogram of job planning time in milliseconds",
            self._planning_times_ms(),
            _PLAN_BUCKETS,
        )
        lines += self._counter("failed", "Counter of failed jobs", n_failed)
        lines += self._counter("job_failed_total", "Counter of failed jobs", n_failed)
        lines += self._counter(
            "job_cancelled_total", "Counter of cancelled jobs", self._cancelled
        )
        lines += self._counter(
            "job_completed_total", "Counter of completed jobs", n_completed
        )
        lines += self._counter(
            "job_submitted_total", "Counter of submitted jobs", len(jobs)
        )
        lines += self._counter(
            "codegen_compilations_total",
            "Counter of codegen classes compiled by the driver JVM",
            codegen_compilations(self.spark),
        )
        lines += [
            "# HELP pending_task_queue_size Number of pending tasks",
            "# TYPE pending_task_queue_size gauge",
            f"pending_task_queue_size {pending}",
        ]
        return "\n".join(lines) + "\n"


_JOB_RE = re.compile(r"^/api/job/(\d+)(/dot)?$")


def _make_handler(api: SchedulerApi):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _send(self, code: int, body: str, content_type: str):
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _json(self, code: int, obj) -> None:
            self._send(code, json.dumps(obj), "application/json")

        def do_GET(self):
            if self.path == "/api/jobs":
                return self._json(200, api.jobs())
            if self.path == "/api/metrics":
                return self._send(
                    200, api.prometheus_metrics(), "text/plain; version=0.0.4"
                )
            m = _JOB_RE.match(self.path)
            if m:
                job_id = int(m.group(1))
                if m.group(2):  # /dot
                    dot = api.job_dot(job_id)
                    if dot is None:
                        return self._json(404, {"error": f"job {job_id} not found"})
                    return self._send(200, dot, "text/vnd.graphviz")
                job = api.job(job_id)
                if job is None:
                    return self._json(404, {"error": f"job {job_id} not found"})
                return self._json(200, job)
            return self._json(404, {"error": "not found"})

        def do_PATCH(self):
            m = _JOB_RE.match(self.path)
            if m and not m.group(2):
                job_id = int(m.group(1))
                if api.job(job_id) is None:
                    return self._json(404, {"error": f"job {job_id} not found"})
                api.cancel(job_id)
                return self._json(200, {"job_id": job_id, "cancelled": True})
            return self._json(404, {"error": "not found"})

    return Handler


class SchedulerApiServer:
    """The running REST endpoint (``.port``, ``.shutdown()``)."""

    def __init__(self, api: SchedulerApi, host: str, port: int):
        self.api = api
        self._httpd = ThreadingHTTPServer((host, port), _make_handler(api))
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True, name="scheduler-api"
        )
        self._thread.start()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def start_scheduler_api(
    spark: SparkSession, port: int = 0, host: str = "127.0.0.1"
) -> SchedulerApiServer:
    """Serve the scheduler REST/metrics API for this session."""
    return SchedulerApiServer(SchedulerApi(spark), host, port)
