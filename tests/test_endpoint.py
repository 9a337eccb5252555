"""The Thrift JDBC/ODBC endpoint (FlightSQL-gateway parity) must start and
accept connections, serving the session's registered tables."""

import socket


def test_sql_endpoint_starts_and_listens(ctx, sf_dir):
    ctx.register_parquet("ep_orders", f"{sf_dir}/orders.parquet")
    port = ctx.start_sql_endpoint(port=10177)
    assert port == 10177
    with socket.create_connection(("127.0.0.1", port), timeout=5):
        pass
    # the endpoint serves THIS session's catalog
    assert "ep_orders" in [t.name for t in ctx.spark.catalog.listTables()]


def test_sql_endpoint_idempotent(ctx):
    # HiveThriftServer2 is a JVM singleton; a second start must not crash
    port = ctx.start_sql_endpoint(port=10177)
    assert port == 10177


def test_beeline_jdbc_end_to_end(tmp_path):
    """A real JDBC client (beeline, separate JVM) connects over the wire
    and queries a table registered through BallistaContext."""
    import os
    import subprocess
    import sys as _sys
    import textwrap

    import pyspark

    script = tmp_path / "serve.py"
    script.write_text(textwrap.dedent("""
        import sys
        sys.path.insert(0, %r)
        import subprocess, os
        from ballista import BallistaContext
        import pyspark

        ctx = BallistaContext(master="local[2]", shuffle_partitions=2)
        ctx.register_parquet("ep_orders", "/root/testdata/sf0.001/orders.parquet")
        port = ctx.start_sql_endpoint(port=10191)
        beeline = os.path.join(os.path.dirname(pyspark.__file__), "bin", "beeline")
        out = subprocess.run(
            [beeline, "-u", f"jdbc:hive2://localhost:{port}", "--silent=true",
             "-e", "SELECT count(*) AS n FROM ep_orders;"],
            capture_output=True, text=True, timeout=240,
        )
        assert out.returncode == 0, out.stderr[-1000:]
        assert any("1500" in l for l in out.stdout.splitlines()), out.stdout[-1000:]
        print("JDBC_E2E_OK")
    """) % os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [_sys.executable, str(script)], capture_output=True, text=True, timeout=500
    )
    assert out.returncode == 0, (out.stdout[-1000:], out.stderr[-1000:])
    assert "JDBC_E2E_OK" in out.stdout
