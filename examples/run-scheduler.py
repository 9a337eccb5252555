"""Scheduler bring-up parity (reference examples/run-scheduler.py).
On Spark there is no separate scheduler process — the driver owns
scheduling — so Scheduler is a documented shim that validates arguments
and reports the Spark-native equivalent."""

import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))  # repo-root import shim (unneeded once pip-installed)


import urllib.request

from ballista import Scheduler

scheduler = Scheduler(
    bind_host="127.0.0.1",
    bind_port=50050,
    external_host="127.0.0.1",
)
print(scheduler)

# the reference scheduler's REST/metrics surface (scheduler.md REST table,
# metrics.md) is served from the driver session
spark = scheduler.session(app_name="run-scheduler-example")
spark.sql("SELECT count(*) FROM range(1000)").collect()
api = scheduler.start_api(spark, port=0)
with urllib.request.urlopen(f"http://127.0.0.1:{api.port}/api/metrics") as r:
    body = r.read().decode()
print("metrics served:", "job_exec_time_seconds" in body)
api.shutdown()
