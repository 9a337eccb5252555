"""SparkSession construction + reference-config translation.

The reference context takes ``shuffle_partitions=16`` / ``batch_size=8192``
(``src/context.rs:41-64``) and the engine reads ``ballista.*`` /
``datafusion.*`` config keys (``docs/source/user-guide/configs.md``).  This
module maps those onto Spark SQL confs (SURVEY §4 conf-mapping row) and owns
the scale-oriented defaults we want on every session:

- AQE on (runtime re-plan, skew-join handling, small-partition coalescing) —
  replaces Ballista's static stage planning (``docs/developer/architecture.md``);
- Arrow-accelerated Python boundary;
- parquet filter pushdown + partition pruning left at Spark defaults (on).

``build_session`` is the one way anything in this repo builds a session:
``BallistaContext()``, the CLI, ``Scheduler.session()``, the bench, the
tests and ``tools/``.  It applies ``DRIVER_CONFS`` to every session, defaults
the master to ``local[local_cpus()]``, sets the log level to ERROR and sizes
the JVM's codegen class cache from the session's conf (2000 entries, so a
session compiles each plan shape once instead of once per query), so what
the bench and the tests measure is what a user runs.
``ensure_session_confs(spark)`` is idempotent and safe to call on a session we
did not create (the correctness driver passes us its own session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ballista/datafusion config keys -> Spark SQL conf (SURVEY §4)
CONF_TRANSLATION = {
    "ballista.shuffle.partitions": "spark.sql.shuffle.partitions",
    "ballista.batch.size": "spark.sql.execution.arrow.maxRecordsPerBatch",
    "ballista.parquet.pruning": "spark.sql.parquet.filterPushdown",
    "ballista.repartition.joins": None,  # Catalyst always partition-parallelizes
    "ballista.repartition.aggregations": None,
    "ballista.repartition.windows": None,
    "ballista.with_information_schema": None,  # Spark catalog always queryable
    "datafusion.execution.coalesce_batches": "spark.sql.adaptive.coalescePartitions.enabled",
    "datafusion.optimizer.filter_null_join_keys": None,
    "datafusion.optimizer.skip_failed_rules": None,
}

# Confs that must be (re)applied even on an externally-created session.
_RUNTIME_CONFS = {
    # testdata events.ts is timestamp[ns]; Spark cannot scan TIMESTAMP(NANOS)
    # parquet natively — read as long and convert (sources/registry.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics vs the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing policy.  The knob only matters when shuffle data is
    # SMALL relative to the cluster (coalescing hits its floor); once
    # post-shuffle partitions exceed advisoryPartitionSizeInBytes — i.e.
    # any real 100 TB run — both policies target the advisory size and the
    # flag is inert.  "true" (the upstream default) keeps small shuffles
    # parallel; "false" (the tuning guide's production recommendation)
    # collapses them to fewer advisory-sized tasks.  An interleaved
    # 12-query min-of-3 A/B on the local bench measured "true" 5.6%
    # faster overall (window-heavy queries like the SCD2 pipeline lose
    # the most under "false"), so the default follows the measurement and
    # the upstream default; production clusters that prefer the guide's
    # size-based policy call ``ctx.set_conf(
    # "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")``.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched Python boundary (UDFs, toPandas, createDataFrame)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine relies on; idempotent."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this deployment; keep going
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in the session's Python workers.

    Workers never see the driver's ``sys.path`` edits: a cloudpickled
    pandas_udf / mapInPandas closure that references this package by module
    name dies with ModuleNotFoundError at deserialization unless the worker
    finds the package on its own path.  In ``local[*]`` the
    ``pyspark.daemon`` workers import from ``PYTHONPATH`` and the driver's
    cwd, so the repo root goes in front of the ``PYTHONPATH`` the session
    passes to its workers (``PythonWorkerFactory`` merges it) — a driver
    started outside the repo root would otherwise fail every Python-worker
    entry.  On any real deployment (``local-cluster``, standalone, YARN,
    k8s) executors spawn their own workers on other hosts, so the package
    ships as a zip through ``sc.addPyFile``, which every executor appends
    to its worker ``sys.path`` — found by the round-8
    ``tools/local_cluster_smoke.py`` run (dedup_semantic's centroid matmul
    was the first casualty).  Zipped lazily, once per JVM (re-adding the
    same path is a Spark no-op but re-zipping 20k LoC per session is not).
    """
    sc = spark.sparkContext
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if sc.master.startswith("local[") or sc.master == "local":
        paths = sc.environment.get("PYTHONPATH", "")
        if repo_root not in paths.split(os.pathsep):
            sc.environment["PYTHONPATH"] = os.pathsep.join(
                p for p in (repo_root, paths) if p
            )
        return
    import tempfile
    import zipfile

    zip_path = os.path.join(
        tempfile.gettempdir(), f"dbps_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for pkg in ("datafusion_ballista_python_spark", "ballista"):
                top = os.path.join(repo_root, pkg)
                if not os.path.isdir(top):
                    continue
                for dirpath, dirnames, filenames in os.walk(top):
                    dirnames[:] = [d for d in dirnames if d != "__pycache__"]
                    for fn in filenames:
                        if fn.endswith(".py"):
                            full = os.path.join(dirpath, fn)
                            zf.write(full, os.path.relpath(full, repo_root))
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already added under another name / restricted deployment


# Driver confs of every session, so an A/B, a profile, the tests and a user
# all run the configuration the bench measures.
DRIVER_CONFS = {
    "spark.ui.enabled": "false",
    # keep stdout clean: bench.py's artifact is its LAST stdout line, and
    # progress-bar control chars must not precede it
    "spark.ui.showConsoleProgress": "false",
    # 8g, deliberately not larger: oversized heaps on virtualized hosts
    # stall tens of seconds on first-touch page backing (measured: 32g
    # heap -> intermittent 20-60s JVM freezes; 8g -> stable)
    "spark.driver.memory": "8g",
    # Spark sizes Tungsten pages from the heap (execution memory / cores /
    # 16, capped at 64m): 64m at 8g on 4 cores, and every task that sorts
    # or aggregates allocates and zeroes at least one page however small
    # its input.  4m is what a 1g driver on 4 cores gets and still allows
    # 32g of pages per task (8192-entry page table).  perfbench
    # llm_operators, 4 cores: throughput_qpm median 25.2 with 64m pages,
    # 28.0 with 4m, 30.5 at the old 1g heap.
    "spark.buffer.pageSize": "4m",
    # a long-lived JVM (the 70-query bench, the 1400-test suite) emits
    # codegen classes far past the JDK 17 default 240m code-cache reserve
    # (r9: 0.907x on the 70-query bench A/B)
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
    # Entries of the JVM-wide cache of compiled codegen classes (default
    # 100).  One perfbench llm_operators pass needs ~370 and one round of
    # the 70 bench.HEADLINE queries ~1,409, so at 100 every op recompiles
    # every class, every pass; 2000 holds either workload.  Takes effect
    # only through build_session's cache init (_init_codegen_cache).
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def local_cpus() -> int:
    """Cores of a local session: ``$SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def translate_conf(key: str) -> str | None:
    """Map a ballista/datafusion conf key to a Spark conf key (or None)."""
    return CONF_TRANSLATION.get(key, key if key.startswith("spark.") else None)


def build_session(
    shuffle_partitions: int = 16,
    batch_size: int = 8192,
    master: str | None = None,
    app_name: str = "datafusion_ballista_python_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with reference-default parity.

    ``shuffle_partitions`` / ``batch_size`` defaults mirror the reference
    context (``src/context.rs:42``: 16 / 8192).  ``master`` defaults to
    ``local[local_cpus()]``; ``DRIVER_CONFS`` apply to every session, with
    ``extra_conf`` applied last.  The log level is ERROR, and the codegen
    class cache takes its size from this session (``_init_codegen_cache``).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{local_cpus()}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))
        # static conf, must be set before the JVM session exists: makes the
        # Thrift JDBC endpoint (endpoint.py) share THIS session so
        # registered temp views are visible to JDBC clients
        .config("spark.sql.hive.thriftServer.singleSession", "true")
    )
    for k, v in {**DRIVER_CONFS, **(extra_conf or {})}.items():
        mapped = translate_conf(k)
        if mapped:
            builder = builder.config(mapped, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _init_codegen_cache(spark)
    return ensure_session_confs(spark)


def _init_codegen_cache(spark: SparkSession) -> None:
    """Size the JVM's codegen class cache from this session's conf.

    ``CodeGenerator``'s cache reads ``spark.sql.codegen.cache.maxEntries``
    once, through ``SQLConf.get``, when the ``CodeGenerator$`` module
    initialises: on whichever JVM thread compiles first.  A py4j thread
    with no active session (a thread pool's worker, a Flight SQL server
    thread) that compiles outside a SQL execution, e.g. planning
    ``df.rdd``, reads the fallback conf, so the cache gets 100 entries
    whatever the session says.  Initialising it here, on the builder's
    thread with the session active, makes the session's value the one
    that counts.  Loading the ``CodeGenerator`` class alone does not
    initialise the module; reading one of its values does.  Once per JVM:
    later sessions share the cache."""
    jvm = spark._jvm
    jvm.org.apache.spark.sql.SparkSession.setActiveSession(spark._jsparkSession)
    jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator \
        .MAX_JVM_METHOD_PARAMS_LENGTH()
