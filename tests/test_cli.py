"""CLI shim smoke tests — the reference cli.md standalone flow
(CREATE EXTERNAL TABLE -> SELECT) through the shell entry point."""

import pytest

from datafusion_ballista_python_spark import cli
from datafusion_ballista_python_spark.context import BallistaContext


@pytest.fixture(scope="module")
def ctx(spark):
    return BallistaContext(spark=spark)


def test_split_statements():
    got = cli._split_statements(
        "SELECT 1; -- trailing comment; with semicolon\n"
        "SELECT 'a;b' AS s;\n  \nSELECT 2"
    )
    assert got == ["SELECT 1", "SELECT 'a;b' AS s", "SELECT 2"]


def test_default_master_left_to_session_builder(monkeypatch):
    # no --master: BallistaContext gets None, so session.build_session picks
    # local[local_cpus()] (pinned in tests/test_fresh_process.py)
    seen = {}

    class _Ctx:
        def __init__(self, **kwargs):
            seen.update(kwargs)

    monkeypatch.setattr(
        "datafusion_ballista_python_spark.context.BallistaContext", _Ctx
    )
    assert cli.main(["-c", ""]) == 0
    assert seen["master"] is None


def test_command_mode(ctx, capsys):
    rc = cli.main(["-c", "SELECT 1 AS a, 'x' AS b;"], ctx=ctx)
    out = capsys.readouterr().out
    assert rc == 0
    assert "a" in out and "x" in out


def test_cli_external_table_flow(ctx, sf_dir, capsys, tmp_path):
    # the reference cli.md example shape: DDL registration then a query
    script = tmp_path / "script.sql"
    script.write_text(
        f"CREATE EXTERNAL TABLE cli_orders STORED AS PARQUET "
        f"LOCATION '{sf_dir}/orders.parquet';\n"
        "SELECT o_orderstatus, count(*) AS n FROM cli_orders "
        "GROUP BY 1 ORDER BY 1;\n"
    )
    rc = cli.main(["-f", str(script)], ctx=ctx)
    out = capsys.readouterr().out
    assert rc == 0
    assert "OK" in out  # DDL ack
    assert "o_orderstatus" in out


def test_repl_quits_and_survives_errors(ctx, capsys, monkeypatch):
    import io

    monkeypatch.setattr(
        "sys.stdin", io.StringIO("SELECT nonsense_col FROM nowhere;\nquit\n")
    )
    rc = cli.main([], ctx=ctx)
    err = capsys.readouterr().err
    assert rc == 0
    assert "Error:" in err


def test_cli_serves_flightsql_and_metrics(ctx, capsys):
    import re
    import urllib.request

    import pyarrow.flight as flight

    from datafusion_ballista_python_spark import flightsql
    from datafusion_ballista_python_spark.cli import main

    rc = main(
        ["--flightsql-port", "0", "--metrics-port", "0", "-c", "SELECT 1 AS one;"],
        ctx=ctx,
    )
    assert rc == 0
    out = capsys.readouterr().out
    fs = re.search(r"grpc://127\.0\.0\.1:(\d+)", out)
    api = re.search(r"http://127\.0\.0\.1:(\d+)", out)
    assert fs and api
    c = flight.FlightClient(f"grpc://127.0.0.1:{fs.group(1)}")
    t = flightsql.execute_query(c, "SELECT 2 AS two")
    assert t.column("two").to_pylist() == [2]
    c.close()
    with urllib.request.urlopen(
        f"http://127.0.0.1:{api.group(1)}/api/metrics", timeout=10
    ) as r:
        assert "job_submitted_total" in r.read().decode()


def test_repl_buffers_incomplete_statements(ctx, capsys, monkeypatch):
    """Only ';'-terminated statements execute; a quoted string or clause
    continuing on the next line stays buffered (the old `';' in line`
    flush executed incomplete fragments and split inside literals)."""
    import io

    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO("SELECT 'a;\nb' AS s;\nSELECT 1; SELECT\n2 AS t;\nquit\n"),
    )
    rc = cli.main([], ctx=ctx)
    captured = capsys.readouterr()
    assert rc == 0
    assert "Error:" not in captured.err
    # the literal survived intact (show() renders its newline as \n)
    assert "a;\\nb" in captured.out
    assert "| 2" in captured.out or "2 " in captured.out


def test_split_statements_with_tail():
    stmts, tail = cli._split_statements("SELECT 1; SELECT 'x;", with_tail=True)
    assert stmts == ["SELECT 1"]
    assert tail.strip() == "SELECT 'x;"
    stmts2, tail2 = cli._split_statements("SELECT 1;", with_tail=True)
    assert stmts2 == ["SELECT 1"] and tail2 == ""
