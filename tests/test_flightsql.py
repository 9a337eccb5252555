"""Arrow Flight SQL endpoint E2E (reference docs/source/user-guide/
flightsql.md: the scheduler serves FlightSQL for JDBC/ADBC clients).

The client side here speaks the real FlightSQL protobuf protocol over a
pyarrow FlightClient — CommandStatementQuery / TicketStatementQuery /
prepared-statement actions / catalog metadata commands — i.e. exactly the
byte sequences an ADBC flight-sql driver emits, without needing the ADBC
wheel in the test environment.
"""

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from datafusion_ballista_python_spark import flightsql


@pytest.fixture(scope="module")
def server(ctx, sf_dir):
    ctx.register_parquet("fs_nation", f"{sf_dir}/nation.parquet")
    ctx.register_parquet("fs_region", f"{sf_dir}/region.parquet")
    srv = ctx.start_flightsql_endpoint(port=0)
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    c = flight.FlightClient(f"grpc://127.0.0.1:{server.port}")
    yield c
    c.close()


def test_select_one(client):
    table = flightsql.execute_query(client, "SELECT 1 AS one")
    assert table.column("one").to_pylist() == [1]


def test_flight_info_schema_before_execution(client, ctx):
    info = client.get_flight_info(
        flightsql.statement_query_descriptor(
            "SELECT n_name, n_regionkey FROM fs_nation"
        )
    )
    assert info.schema.names == ["n_name", "n_regionkey"]
    assert info.total_records == -1  # unknown until execution, per spec


def test_registered_table_query_matches_engine(client, ctx):
    q = (
        "SELECT r_name, count(*) AS n FROM fs_nation n "
        "JOIN fs_region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY r_name ORDER BY r_name"
    )
    over_wire = flightsql.execute_query(client, q)
    direct = ctx.sql(q)
    expect = pa.Table.from_batches(direct.collect())
    assert over_wire.column("r_name").to_pylist() == expect.column("r_name").to_pylist()
    assert over_wire.column("n").to_pylist() == expect.column("n").to_pylist()


def test_prepared_statement_roundtrip(client):
    table = flightsql.prepare_and_execute(
        client, "SELECT n_nationkey FROM fs_nation ORDER BY n_nationkey LIMIT 3"
    )
    assert table.column("n_nationkey").to_pylist() == [0, 1, 2]


def test_get_schema_rpc(client):
    res = client.get_schema(
        flightsql.statement_query_descriptor("SELECT 1 AS a, 'x' AS b")
    )
    assert res.schema.names == ["a", "b"]


def test_metadata_catalogs_and_table_types(client):
    cats = client.do_get(
        client.get_flight_info(
            flightsql.metadata_descriptor("CommandGetCatalogs")
        ).endpoints[0].ticket
    ).read_all()
    assert cats.schema.equals(flightsql._GET_CATALOGS_SCHEMA)
    assert "spark_catalog" in cats.column("catalog_name").to_pylist()

    tt = client.do_get(
        client.get_flight_info(
            flightsql.metadata_descriptor("CommandGetTableTypes")
        ).endpoints[0].ticket
    ).read_all()
    assert set(tt.column("table_type").to_pylist()) == {"TABLE", "VIEW"}


def test_metadata_get_tables_with_filter_and_schema(client):
    info = client.get_flight_info(
        flightsql.metadata_descriptor(
            "CommandGetTables",
            table_name_filter_pattern="fs\\_%".replace("\\_", "_"),
            include_schema=True,
        )
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    names = table.column("table_name").to_pylist()
    assert "fs_nation" in names and "fs_region" in names
    # table_schema carries a real IPC-serialized Arrow schema
    i = names.index("fs_nation")
    blob = table.column("table_schema").to_pylist()[i]
    with pa.ipc.open_stream(blob) as reader:
        assert "n_name" in reader.schema.names


def test_unknown_command_raises(client):
    bad = flight.FlightDescriptor.for_command(
        flightsql.pack_any("arrow.flight.protocol.sql.CommandNope", b"")
    )
    with pytest.raises(flight.FlightServerError):
        client.get_flight_info(bad)


def test_stateless_tickets_survive_server_restart(ctx, server):
    """A ticket minted by one server instance executes on another — the
    handle is the query itself, so gateways scale horizontally."""
    q = "SELECT count(*) AS n FROM fs_nation"
    c1 = flight.FlightClient(f"grpc://127.0.0.1:{server.port}")
    info = c1.get_flight_info(flightsql.statement_query_descriptor(q))
    ticket = info.endpoints[0].ticket
    c1.close()

    other = flightsql.start_flightsql_endpoint(ctx.spark, port=0)
    try:
        c2 = flight.FlightClient(f"grpc://127.0.0.1:{other.port}")
        table = c2.do_get(ticket).read_all()
        assert table.column("n").to_pylist() == [25]
        c2.close()
    finally:
        other.shutdown()


def test_command_statement_executes_exactly_once(client, ctx, tmp_path_factory):
    """Eager DDL/DML runs at plan time in spark.sql; the endpoint must
    serve DoGet from the cached result instead of executing again."""
    path = str(tmp_path_factory.mktemp("fsql") / "cmd_tbl")
    flightsql.execute_query(
        client,
        f"CREATE TABLE fsql_cmd (k INT) USING parquet LOCATION '{path}'",
    )
    try:
        flightsql.execute_query(client, "INSERT INTO fsql_cmd VALUES (1)")
        table = flightsql.execute_query(client, "SELECT count(*) AS n FROM fsql_cmd")
        assert table.column("n").to_pylist() == [1]  # exactly one row inserted
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS fsql_cmd")


def test_prepared_command_executes_exactly_once(client, ctx, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fsql") / "cmd_tbl2")
    ctx.spark.sql(
        f"CREATE TABLE fsql_cmd2 (k INT) USING parquet LOCATION '{path}'"
    )
    try:
        flightsql.prepare_and_execute(client, "INSERT INTO fsql_cmd2 VALUES (7)")
        n = ctx.spark.sql("SELECT count(*) AS n FROM fsql_cmd2").collect()[0]["n"]
        assert n == 1
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS fsql_cmd2")


def test_large_result_streams(client):
    """DoGet streams SELECT results (GeneratorStream over collect_stream)
    rather than materializing on the driver; a multi-partition range
    round-trips completely and in full."""
    t = flightsql.execute_query(
        client, "SELECT id FROM range(0, 100000, 1, 8) ORDER BY id"
    )
    assert t.num_rows == 100000
    assert t.column("id").to_pylist()[:3] == [0, 1, 2]


def test_non_null_filter_matches_to_arrow(client, ctx):
    """A filter makes the optimized plan's column non-null while the
    analyzed schema stays nullable; the stream must still carry exactly
    the declared schema, the one toArrow returns."""
    q = "SELECT * FROM fs_nation WHERE n_regionkey < 2"
    info = client.get_flight_info(flightsql.statement_query_descriptor(q))
    over_wire = flightsql.execute_query(client, q)
    direct = ctx.spark.sql(q).toArrow()
    assert over_wire.num_rows > 0
    assert over_wire.schema == direct.schema == info.schema
    assert over_wire.sort_by("n_nationkey").equals(direct.sort_by("n_nationkey"))


_TYPED_QUERY = """
SELECT id,
       IF(id % 4 = 0, NULL, CAST(id AS STRING)) AS s,
       CAST(CAST(id AS STRING) AS BINARY) AS b,
       CAST(id AS DECIMAL(12, 2)) AS d,
       TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
       TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts_ntz,
       array(id, id + 1) AS a,
       named_struct('x', id, 'y', CAST(id AS STRING)) AS st,
       map(CAST(id AS STRING), id) AS m
FROM range(0, 25, 1, 3)
"""


@pytest.mark.parametrize("large_var_types", ["false", "true"])
def test_result_types_match_to_arrow(client, ctx, large_var_types):
    """collect_stream and DoGet decode every type as toArrow does, with
    and without int64-offset (large) string/binary types — a decode schema
    that ignored the setting aborted the process."""
    from datafusion_ballista_python_spark.dataframe import DataFrame

    spark = ctx.spark
    spark.conf.set("spark.sql.execution.arrow.useLargeVarTypes", large_var_types)
    try:
        expected = spark.sql(_TYPED_QUERY).toArrow()
        streamed = pa.Table.from_batches(
            list(DataFrame(spark.sql(_TYPED_QUERY)).collect_stream())
        )
        over_wire = flightsql.execute_query(client, _TYPED_QUERY)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.useLargeVarTypes")
    string_type = pa.large_string() if large_var_types == "true" else pa.string()
    assert expected.schema.field("s").type == string_type
    assert streamed.equals(expected)
    assert over_wire.equals(expected)


def test_empty_result_has_declared_schema(client):
    q = "SELECT n_nationkey, n_name FROM fs_nation WHERE false"
    info = client.get_flight_info(flightsql.statement_query_descriptor(q))
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 0
    assert table.schema == info.schema


def test_consumer_stopping_early_leaves_session_usable(client):
    info = client.get_flight_info(
        flightsql.statement_query_descriptor("SELECT id FROM range(0, 400000, 1, 8)")
    )
    reader = client.do_get(info.endpoints[0].ticket)
    assert reader.read_chunk().data.num_rows > 0
    reader.cancel()
    table = flightsql.execute_query(client, "SELECT count(*) AS n FROM fs_nation")
    assert table.column("n").to_pylist() == [25]


def test_failing_query_raises_flight_error(client, ctx):
    """A task failure reaches the client as a FlightError carrying the
    root cause — not a hang, and not a status too large for gRPC."""
    import threading

    spark = ctx.spark
    previous = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    outcome = {}

    def run():
        try:
            flightsql.execute_query(client, "SELECT 1 / (id - id) AS x FROM range(10)")
        except Exception as exc:  # noqa: BLE001 - inspected below
            outcome["error"] = exc

    try:
        worker = threading.Thread(target=run, daemon=True)
        worker.start()
        worker.join(timeout=120)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", previous)
    assert not worker.is_alive(), "DoGet of a failing query hung"
    assert isinstance(outcome.get("error"), flight.FlightError), outcome
    assert "DIVIDE_BY_ZERO" in str(outcome["error"])


def test_get_tables_schema_filter(client):
    info = client.get_flight_info(
        flightsql.metadata_descriptor(
            "CommandGetTables", db_schema_filter_pattern="no_such_schema_%"
        )
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 0


def test_do_put_statement_update(client, ctx, tmp_path_factory):
    """The proper FlightSQL DML path (ADBC ExecuteUpdate): DoPut with
    CommandStatementUpdate executes exactly once and returns a
    DoPutUpdateResult in the put metadata."""
    path = str(tmp_path_factory.mktemp("fsql") / "upd_tbl")
    ctx.spark.sql(f"CREATE TABLE fsql_upd (k INT) USING parquet LOCATION '{path}'")
    try:
        count = flightsql.execute_update(client, "INSERT INTO fsql_upd VALUES (1), (2)")
        assert count in (-1, 2)  # Spark may not surface affected-row counts
        n = ctx.spark.sql("SELECT count(*) AS n FROM fsql_upd").collect()[0]["n"]
        assert n == 2  # exactly one execution
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS fsql_upd")


def test_do_put_unknown_command_raises(client):
    desc = flight.FlightDescriptor.for_command(
        flightsql.pack_any("arrow.flight.protocol.sql.CommandNope", b"")
    )
    with pytest.raises(flight.FlightError):
        writer, reader = client.do_put(desc, pa.schema([]))
        writer.done_writing()
        reader.read()
        writer.close()


def test_do_put_prepared_update_exactly_once(client, ctx, tmp_path_factory):
    """ADBC prepared ExecuteUpdate: prepare executes the eager DML once;
    the DoPut with the prepared handle must ACK without re-executing
    (previously it parsed the cmd: handle as SQL and errored after the
    side effect had applied)."""
    path = str(tmp_path_factory.mktemp("fsql") / "pupd_tbl")
    ctx.spark.sql(f"CREATE TABLE fsql_pupd (k INT) USING parquet LOCATION '{path}'")
    try:
        req = flightsql.pack_any(
            "arrow.flight.protocol.sql.ActionCreatePreparedStatementRequest",
            flightsql._ld(1, b"INSERT INTO fsql_pupd VALUES (5)"),
        )
        results = list(client.do_action(flight.Action("CreatePreparedStatement", req)))
        _, payload = flightsql.unpack_any(results[0].body.to_pybytes())
        handle = bytes(flightsql._parse(payload).get(1, [b""])[0])
        assert handle.startswith(b"cmd:")

        desc = flight.FlightDescriptor.for_command(
            flightsql.pack_any(
                "arrow.flight.protocol.sql.CommandPreparedStatementUpdate",
                flightsql._ld(1, handle),
            )
        )
        writer, metadata_reader = client.do_put(desc, pa.schema([]))
        writer.done_writing()
        buf = metadata_reader.read()
        writer.close()
        assert buf is not None  # server ACKed with a DoPutUpdateResult

        n = ctx.spark.sql("SELECT count(*) AS n FROM fsql_pupd").collect()[0]["n"]
        assert n == 1  # exactly one execution, at prepare time
    finally:
        ctx.spark.sql("DROP TABLE IF EXISTS fsql_pupd")


# -- protobuf wire codec properties (no server needed) ----------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_varint_roundtrip(n):
    buf = flightsql._varint(n)
    val, pos = flightsql._read_varint(buf, 0)
    assert val == n and pos == len(buf)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_signed_varint_field_roundtrip(n):
    buf = flightsql._vi(3, n)
    fields = flightsql._parse(buf)
    assert flightsql._signed64(fields[3][0]) == n


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=15), st.binary(max_size=64)),
        max_size=8,
    )
)
def test_length_delimited_fields_roundtrip(pairs):
    buf = b"".join(flightsql._ld(f, payload) for f, payload in pairs)
    fields = flightsql._parse(buf)
    for f, payload in pairs:
        assert payload in [bytes(v) for v in fields.get(f, [])]


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=80), st.binary(max_size=256))
def test_any_pack_unpack_roundtrip(name, payload):
    got_name, got_payload = flightsql.unpack_any(flightsql.pack_any(name, payload))
    assert got_name == name.rsplit("/", 1)[-1]
    assert got_payload == payload


def test_get_sql_info(client):
    """ADBC connection bootstrap: GetSqlInfo returns the dense-union
    metadata rows, honoring the requested-id filter (packed or not)."""
    info = client.get_flight_info(
        flightsql.metadata_descriptor("CommandGetSqlInfo")
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.schema.field("info_name").type == pa.uint32()
    assert pa.types.is_union(table.schema.field("value").type)
    rows = dict(zip(table.column("info_name").to_pylist(),
                    table.column("value").to_pylist()))
    assert rows[0] == "datafusion-ballista-python-spark"
    assert rows[3] is False  # not read-only

    filtered = client.do_get(
        client.get_flight_info(
            flightsql.metadata_descriptor("CommandGetSqlInfo", info=[1, 2])
        ).endpoints[0].ticket
    ).read_all()
    assert filtered.column("info_name").to_pylist() == [1, 2]


def test_get_primary_keys_empty_with_spec_schema(client):
    info = client.get_flight_info(
        flightsql.metadata_descriptor("CommandGetPrimaryKeys", table="fs_nation")
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 0
    assert table.schema.equals(flightsql._GET_PRIMARY_KEYS_SCHEMA)


def test_get_fk_commands_empty_with_spec_schema(client):
    for cmd, kw in (
        ("CommandGetImportedKeys", {"table": "fs_nation"}),
        ("CommandGetExportedKeys", {"table": "fs_nation"}),
        ("CommandGetCrossReference", {"pk_table": "fs_nation", "fk_table": "fs_nation"}),
    ):
        info = client.get_flight_info(flightsql.metadata_descriptor(cmd, **kw))
        table = client.do_get(info.endpoints[0].ticket).read_all()
        assert table.num_rows == 0, cmd
        assert table.schema.equals(flightsql._GET_KEYS_SCHEMA), cmd


def test_get_xdbc_type_info_full_and_filtered(client):
    info = client.get_flight_info(
        flightsql.metadata_descriptor("CommandGetXdbcTypeInfo")
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.schema.equals(flightsql._GET_XDBC_TYPE_INFO_SCHEMA)
    names = table.column("type_name").to_pylist()
    assert {"BIGINT", "DOUBLE", "STRING", "TIMESTAMP", "DECIMAL"} <= set(names)
    # DECIMAL advertises its create params and fixed precision/scale
    i = names.index("DECIMAL")
    assert table.column("create_params").to_pylist()[i] == ["precision", "scale"]
    assert table.column("fixed_prec_scale").to_pylist()[i] is True

    # filtered by data_type code (93 = TIMESTAMP)
    info = client.get_flight_info(
        flightsql.metadata_descriptor("CommandGetXdbcTypeInfo", data_type=93)
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.column("type_name").to_pylist() == ["TIMESTAMP"]


# ---------------------------------------------------------------------------
# ADBC end-to-end: the official Arrow Flight SQL client wheel, when present,
# round-trips a query against our endpoint — a stronger complement to the
# byte-level protocol tests above (it exercises a codec we didn't write).
# The wheel isn't in this container; the test skips gracefully then and
# runs wherever `pip install adbc-driver-flightsql` is available.
# ---------------------------------------------------------------------------


def test_adbc_client_roundtrip(server):
    adbc = pytest.importorskip("adbc_driver_flightsql.dbapi")
    with adbc.connect(f"grpc://127.0.0.1:{server.port}") as conn:
        with conn.cursor() as cur:
            cur.execute("SELECT 1 AS one, 'x' AS s")
            tbl = cur.fetch_arrow_table()
    assert tbl.column("one").to_pylist() == [1]
    assert tbl.column("s").to_pylist() == ["x"]


def test_get_xdbc_type_info_negative_filter(client):
    """Negative java.sql.Types codes (TINYINT -6) arrive as
    two's-complement varints; the server must sign-decode the filter —
    the raw decode made every negative filter match zero rows."""
    info = client.get_flight_info(
        flightsql.metadata_descriptor("CommandGetXdbcTypeInfo", data_type=-6)
    )
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.column("type_name").to_pylist() == ["TINYINT"]


def test_get_schema_then_info_executes_eager_statement_once(client, ctx):
    """GetSchema on an eager statement must not add a second execution on
    the GetFlightInfo that follows (the spec-supported schema probe);
    previously GetSchema executed AND GetFlightInfo executed again."""
    spark = ctx.spark
    spark.sql("DROP TABLE IF EXISTS gsonce")
    spark.sql("CREATE TABLE gsonce (v INT) USING parquet")
    try:
        desc = flightsql.statement_query_descriptor(
            "INSERT INTO gsonce VALUES (1)"
        )
        client.get_schema(desc)          # schema probe: executes once
        info = client.get_flight_info(desc)  # must CONSUME, not re-execute
        client.do_get(info.endpoints[0].ticket).read_all()
        assert spark.sql("SELECT COUNT(*) c FROM gsonce").collect()[0]["c"] == 1
        # a plain second GetFlightInfo (no schema probe) executes again
        info2 = client.get_flight_info(desc)
        client.do_get(info2.endpoints[0].ticket).read_all()
        assert spark.sql("SELECT COUNT(*) c FROM gsonce").collect()[0]["c"] == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS gsonce")


def test_abandoned_get_schema_plan_expires(client, ctx, server):
    """A GetSchema whose client never follows up must not leave a stale
    by-text entry that a LATER independent GetFlightInfo for the same
    statement text consumes (silently skipping re-execution): past the
    TTL the entry is a miss and the statement re-plans (advisor r6)."""
    import time

    spark = ctx.spark
    spark.sql("DROP TABLE IF EXISTS gsttl")
    spark.sql("CREATE TABLE gsttl (v INT) USING parquet")
    old_ttl = server._planned_ttl_sec
    try:
        server._planned_ttl_sec = 0.05
        desc = flightsql.statement_query_descriptor("INSERT INTO gsttl VALUES (1)")
        client.get_schema(desc)  # schema probe: executes once, plans by text
        time.sleep(0.3)  # the probing client walks away; TTL elapses
        # an independent client running the same text must re-execute, not
        # consume the abandoned probe's result
        info = client.get_flight_info(desc)
        client.do_get(info.endpoints[0].ticket).read_all()
        assert spark.sql("SELECT COUNT(*) c FROM gsttl").collect()[0]["c"] == 2
    finally:
        server._planned_ttl_sec = old_ttl
        spark.sql("DROP TABLE IF EXISTS gsttl")
