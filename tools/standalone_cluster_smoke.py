#!/usr/bin/env python
"""Standalone-cluster smoke (r8 verdict item #8): bring up a REAL
``spark://`` master + worker pair via the cluster.py shims — actual
child server processes, the closest Spark analogue to the reference's
scheduler/executor processes (``src/scheduler.rs:33-71``,
``src/executor.rs:29-75``) — then attach a session over ``spark://``
and run queries end-to-end.

What this flushes beyond the local-cluster[2,4,4096] smoke:
- the standalone Master's app registration / executor allocation path
  (local-cluster embeds a stub master inside the driver JVM);
- Worker-launched executor JVMs (separate process tree, not driver
  children) including the addPyFile package shipping to them;
- session attach/teardown over a real RPC port.

Usage: python tools/standalone_cluster_smoke.py [sf_dir] [--out PATH]
Prints one JSON line; exit 0 iff every step passed.  Writes the same JSON
to PATH (default: tools/standalone_cluster_smoke.json next to this file).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# small but representative: a scan-agg head, a multi-join, and the
# pandas_udf path (remote Python workers must import the shipped package)
SMOKE = ["q1_pricing_summary", "q5_region_revenue", "dedup_semantic"]


_DEFAULT_OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "standalone_cluster_smoke.json"
)


def main() -> int:
    parser = argparse.ArgumentParser(usage="%(prog)s [sf_dir] [--out PATH]")
    parser.add_argument("--out", default=_DEFAULT_OUT, help="JSON report path")
    args, sys.argv[1:] = parser.parse_known_args()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from datafusion_ballista_python_spark.cluster import Executor, Scheduler

    out: dict = {"mode": "standalone", "results": {}, "ok": True}
    scheduler = Scheduler()
    executor = None
    spark = None
    try:
        master = scheduler.start()
        out["master_url"] = scheduler.master_url
        executor = Executor(concurrent_tasks=4)
        executor.start(master_url=master.url)

        from datafusion_ballista_python_spark.corpus import load_all
        from datafusion_ballista_python_spark.session import build_session

        spark = build_session(
            shuffle_partitions=8,
            master=master.url,
            app_name="standalone-smoke",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.executor.memory": "1g",
                "spark.executorEnv.PYSPARK_PYTHON": sys.executable,
            },
        )

        # wait until the worker has registered and an executor is up:
        # the first job would otherwise just queue (fine) but a hang here
        # should fail loudly with the master/worker logs named
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline:
            tracker = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
            if tracker.size() > 1:  # driver + >=1 real executor
                break
            time.sleep(1)
        else:
            raise TimeoutError(
                f"no executor registered; master log {master.log_path}, "
                f"worker log {executor._process.log_path}"
            )
        out["n_block_managers"] = int(
            spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        )

        registry = load_all()
        for name in SMOKE:
            t0 = time.perf_counter()
            try:
                n = registry[name].fn(spark, sf_dir).count()
                out["results"][name] = {
                    "rows": n,
                    "sec": round(time.perf_counter() - t0, 2),
                }
            except Exception as e:  # noqa: BLE001 - record, keep going
                out["ok"] = False
                out["results"][name] = {
                    "error": f"{type(e).__name__}: {e}"[:300]
                }
    except Exception as e:  # noqa: BLE001
        out["ok"] = False
        out["error"] = f"{type(e).__name__}: {e}"[:500]
    finally:
        if spark is not None:
            spark.stop()
        if executor is not None:
            executor.stop()
        scheduler.stop()

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
