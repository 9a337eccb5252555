"""Arrow Flight SQL endpoint walkthrough (reference
docs/source/user-guide/flightsql.md: the scheduler serves Flight SQL for
JDBC/ADBC clients).  Starts the endpoint on an ephemeral port, connects a
Flight client, and runs a statement + a prepared statement over the wire."""

import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))  # repo-root import shim (unneeded once pip-installed)

from ballista import BallistaContext
from datafusion_ballista_python_spark import flightsql

import pyarrow.flight as flight

ctx = BallistaContext(master="local[4]", shuffle_partitions=4)
ctx.register_parquet("nation", "/root/testdata/sf0.001/nation.parquet")

server = ctx.start_flightsql_endpoint(port=0)
client = flight.FlightClient(f"grpc://127.0.0.1:{server.port}")

table = flightsql.execute_query(
    client, "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3"
)
print("statement:", table.column("n_name").to_pylist())

prepared = flightsql.prepare_and_execute(client, "SELECT count(*) AS n FROM nation")
print("prepared:", prepared.column("n").to_pylist()[0])

client.close()
server.shutdown()
