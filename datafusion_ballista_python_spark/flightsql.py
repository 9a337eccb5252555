"""Arrow Flight SQL endpoint — wire-protocol parity with the reference's
FlightSQL gateway (reference ``docs/source/user-guide/flightsql.md``: the
scheduler serves Arrow Flight SQL so "you can connect with any JDBC client"
— there via the arrow-flight-sql JDBC driver).

This serves the same protocol from the Spark session: a
:class:`pyarrow.flight.FlightServerBase` that understands the FlightSQL
command set an ADBC / flight-sql-jdbc client issues —

- ``CommandStatementQuery``     → GetFlightInfo: plan via ``spark.sql``,
  return the result schema + a ``TicketStatementQuery`` endpoint;
- ``TicketStatementQuery``      → DoGet: execute, stream Arrow batches;
- ``ActionCreatePreparedStatementRequest`` / Close → DoAction;
- ``CommandPreparedStatementQuery`` → GetFlightInfo/DoGet for prepared
  statements;
- ``CommandStatementUpdate`` / ``CommandPreparedStatementUpdate`` →
  DoPut with a ``DoPutUpdateResult`` record count (the ADBC
  ExecuteUpdate DML path);
- ``CommandGetCatalogs`` / ``CommandGetDbSchemas`` / ``CommandGetTables`` /
  ``CommandGetTableTypes`` / ``CommandGetSqlInfo`` /
  ``CommandGetPrimaryKeys`` / ``CommandGetImportedKeys`` /
  ``CommandGetExportedKeys`` / ``CommandGetCrossReference`` /
  ``CommandGetXdbcTypeInfo`` — the complete metadata command set with the
  spec-fixed schemas (PK/FK streams are spec-shaped empties — the Spark
  catalog carries no constraint metadata; XdbcTypeInfo advertises Spark
  SQL's type surface with java.sql.Types codes).

The FlightSQL messages are protobufs wrapped in ``google.protobuf.Any``;
the codec below speaks the protobuf wire format directly (varint +
length-delimited fields — the only wire types these messages use), so no
protobuf runtime or generated stubs are needed.

Statement handles for QUERIES are STATELESS: the handle is the UTF-8
query text itself.  Any server replica (or a restarted server) can serve
a DoGet for a ticket minted by another — the property that lets the
endpoint scale horizontally behind a load balancer at 100 TB, where a
sticky handle→session map would pin every client to one gateway.  Eager
COMMAND statements (DDL/DML — spark.sql executes them at plan time) are
the exception: their result is cached under a one-shot handle served by
the planning server, because re-executing on DoGet would apply the side
effects twice.

Execution is the full Catalyst/AQE engine; the gateway only moves Arrow
batches, and DoGet STREAMS them (``collect_stream``: the JVM builds the
Arrow batches, ``Dataset.toArrowBatchRdd``, and serves them one partition
at a time through ``pyspark.util._local_iterator_from_socket`` — both
non-public pyspark 4.1.2 entry points, to re-check on a pyspark upgrade),
so result size never exceeds driver memory.  Every SELECT schema the
endpoint declares or decodes with is ``result_arrow_schema``, the one
``toArrow`` uses.
"""

from __future__ import annotations

import re
import threading
import uuid
from collections import OrderedDict
from typing import Iterator, Optional

import pyarrow as pa

try:  # pyarrow built without flight is possible; gate imports
    import pyarrow.flight as flight
except ImportError:  # pragma: no cover
    flight = None

from pyspark.sql import SparkSession

from .datatypes import result_arrow_schema
from .errors import BallistaError

# ---------------------------------------------------------------------------
# protobuf wire codec (varint + length-delimited only)
# ---------------------------------------------------------------------------

_TYPE_PREFIX = "type.googleapis.com/"
_SQL_NS = "arrow.flight.protocol.sql."


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def _vi(field: int, value: int) -> bytes:
    """Varint field (wire type 0); negatives use int64 two's complement
    (protobuf int64 encoding, e.g. record_count = -1 for 'unknown')."""
    if value < 0:
        value &= (1 << 64) - 1
    return _varint(field << 3) + _varint(value)


def _signed64(value: int) -> int:
    """Decode a protobuf int64 varint value back to a signed int."""
    return value - (1 << 64) if value >= 1 << 63 else value


def _parse(buf: bytes) -> dict[int, list]:
    """Parse a message into {field_number: [values]} — bytes for
    length-delimited fields, int for varints; fixed32/64 skipped."""
    fields: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            val = buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            val = buf[pos : pos + 8]
            pos += 8
        else:  # groups (3/4) do not occur in FlightSQL messages
            raise BallistaError(f"unsupported protobuf wire type {wire}")
        fields.setdefault(field, []).append(val)
    return fields


def pack_any(type_name: str, payload: bytes) -> bytes:
    """google.protobuf.Any{type_url: 1, value: 2}."""
    return _ld(1, (_TYPE_PREFIX + type_name).encode()) + _ld(2, payload)


def unpack_any(buf: bytes) -> tuple[str, bytes]:
    fields = _parse(bytes(buf))
    url = fields.get(1, [b""])[0].decode()
    value = fields.get(2, [b""])[0]
    return url.rsplit("/", 1)[-1], bytes(value)


def _str_field(fields: dict[int, list], num: int) -> Optional[str]:
    vals = fields.get(num)
    return bytes(vals[0]).decode() if vals else None


# ---------------------------------------------------------------------------
# FlightSQL fixed metadata schemas (per the protocol spec)
# ---------------------------------------------------------------------------

_GET_CATALOGS_SCHEMA = pa.schema([pa.field("catalog_name", pa.utf8(), nullable=False)])
_GET_DB_SCHEMAS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.utf8()),
        pa.field("db_schema_name", pa.utf8(), nullable=False),
    ]
)
_GET_TABLE_TYPES_SCHEMA = pa.schema([pa.field("table_type", pa.utf8(), nullable=False)])
_SQL_INFO_VALUE_TYPE = pa.dense_union(
    [
        pa.field("string_value", pa.utf8()),
        pa.field("bool_value", pa.bool_()),
        pa.field("bigint_value", pa.int64()),
        pa.field("int32_bitmask", pa.int32()),
        pa.field("string_list", pa.list_(pa.utf8())),
        pa.field("int32_to_int32_list_map", pa.map_(pa.int32(), pa.list_(pa.int32()))),
    ]
)
_GET_SQL_INFO_SCHEMA = pa.schema(
    [
        pa.field("info_name", pa.uint32(), nullable=False),
        pa.field("value", _SQL_INFO_VALUE_TYPE),
    ]
)
_GET_PRIMARY_KEYS_SCHEMA = pa.schema(
    [
        pa.field("catalog_name", pa.utf8()),
        pa.field("db_schema_name", pa.utf8()),
        pa.field("table_name", pa.utf8(), nullable=False),
        pa.field("column_name", pa.utf8(), nullable=False),
        pa.field("key_sequence", pa.int32(), nullable=False),
        pa.field("key_name", pa.utf8()),
    ]
)
# shared by GetImportedKeys / GetExportedKeys / GetCrossReference
# (FlightSql.proto spec schema; Spark tables carry no FK constraints, so
# these always answer with the spec-shaped empty stream)
_GET_KEYS_SCHEMA = pa.schema(
    [
        pa.field("pk_catalog_name", pa.utf8()),
        pa.field("pk_db_schema_name", pa.utf8()),
        pa.field("pk_table_name", pa.utf8(), nullable=False),
        pa.field("pk_column_name", pa.utf8(), nullable=False),
        pa.field("fk_catalog_name", pa.utf8()),
        pa.field("fk_db_schema_name", pa.utf8()),
        pa.field("fk_table_name", pa.utf8(), nullable=False),
        pa.field("fk_column_name", pa.utf8(), nullable=False),
        pa.field("key_sequence", pa.int32(), nullable=False),
        pa.field("fk_key_name", pa.utf8()),
        pa.field("pk_key_name", pa.utf8()),
        pa.field("update_rule", pa.uint8(), nullable=False),
        pa.field("delete_rule", pa.uint8(), nullable=False),
    ]
)
_GET_XDBC_TYPE_INFO_SCHEMA = pa.schema(
    [
        pa.field("type_name", pa.utf8(), nullable=False),
        pa.field("data_type", pa.int32(), nullable=False),
        pa.field("column_size", pa.int32()),
        pa.field("literal_prefix", pa.utf8()),
        pa.field("literal_suffix", pa.utf8()),
        pa.field("create_params", pa.list_(pa.field("item", pa.utf8(), nullable=False))),
        pa.field("nullable", pa.int32(), nullable=False),
        pa.field("case_sensitive", pa.bool_(), nullable=False),
        pa.field("searchable", pa.int32(), nullable=False),
        pa.field("unsigned_attribute", pa.bool_()),
        pa.field("fixed_prec_scale", pa.bool_(), nullable=False),
        pa.field("auto_increment", pa.bool_()),
        pa.field("local_type_name", pa.utf8()),
        pa.field("minimum_scale", pa.int32()),
        pa.field("maximum_scale", pa.int32()),
        pa.field("sql_data_type", pa.int32(), nullable=False),
        pa.field("datetime_subcode", pa.int32()),
        pa.field("num_prec_radix", pa.int32()),
        pa.field("interval_precision", pa.int32()),
    ]
)

# Spark SQL's queryable type surface as XDBC type descriptors:
# (name, xdbc data_type code, column_size, prefix/suffix, create_params,
#  case_sensitive, fixed_prec_scale, num_prec_radix).  data_type codes are
# the standard SQL/XDBC ones (java.sql.Types values).
_XDBC_TYPES = [
    ("BOOLEAN", 16, 1, None, None, None, False, False, None),
    ("TINYINT", -6, 3, None, None, None, False, False, 10),
    ("SMALLINT", 5, 5, None, None, None, False, False, 10),
    ("INT", 4, 10, None, None, None, False, False, 10),
    ("BIGINT", -5, 19, None, None, None, False, False, 10),
    ("FLOAT", 6, 7, None, None, None, False, False, 2),
    ("DOUBLE", 8, 15, None, None, None, False, False, 2),
    ("DECIMAL", 3, 38, None, None, ["precision", "scale"], False, True, 10),
    ("STRING", 12, None, "'", "'", None, True, False, None),
    ("BINARY", -2, None, "X'", "'", None, False, False, None),
    ("DATE", 91, 10, "DATE '", "'", None, False, False, None),
    ("TIMESTAMP", 93, 29, "TIMESTAMP '", "'", None, False, False, None),
    ("ARRAY", 2003, None, None, None, ["element_type"], False, False, None),
    ("MAP", 2000, None, None, None, ["key_type", "value_type"], False, False, None),
    ("STRUCT", 2002, None, None, None, ["fields"], False, False, None),
]


def _xdbc_type_info_table(data_type_filter: int | None = None) -> pa.Table:
    rows = [t for t in _XDBC_TYPES if data_type_filter is None or t[1] == data_type_filter]
    return pa.table(
        {
            "type_name": pa.array([t[0] for t in rows], pa.utf8()),
            "data_type": pa.array([t[1] for t in rows], pa.int32()),
            "column_size": pa.array([t[2] for t in rows], pa.int32()),
            "literal_prefix": pa.array([t[3] for t in rows], pa.utf8()),
            "literal_suffix": pa.array([t[4] for t in rows], pa.utf8()),
            "create_params": pa.array(
                [t[5] for t in rows],
                pa.list_(pa.field("item", pa.utf8(), nullable=False)),
            ),
            # searchable=3 (WHERE-searchable), nullable=1 (nullable) for all
            "nullable": pa.array([1] * len(rows), pa.int32()),
            "case_sensitive": pa.array([t[6] for t in rows], pa.bool_()),
            "searchable": pa.array([3] * len(rows), pa.int32()),
            "unsigned_attribute": pa.array([None] * len(rows), pa.bool_()),
            "fixed_prec_scale": pa.array([t[7] for t in rows], pa.bool_()),
            "auto_increment": pa.array([False] * len(rows), pa.bool_()),
            "local_type_name": pa.array([t[0] for t in rows], pa.utf8()),
            "minimum_scale": pa.array([None] * len(rows), pa.int32()),
            "maximum_scale": pa.array(
                [38 if t[0] == "DECIMAL" else None for t in rows], pa.int32()
            ),
            "sql_data_type": pa.array([t[1] for t in rows], pa.int32()),
            "datetime_subcode": pa.array([None] * len(rows), pa.int32()),
            "num_prec_radix": pa.array([t[8] for t in rows], pa.int32()),
            "interval_precision": pa.array([None] * len(rows), pa.int32()),
        }
    ).cast(_GET_XDBC_TYPE_INFO_SCHEMA)

def _package_version() -> str:
    from . import __version__

    return __version__


# FlightSQL SqlInfo ids (arrow.flight.protocol.sql.SqlInfo)
_SQL_INFO_VALUES: "OrderedDict[int, object]" = OrderedDict(
    [
        (0, "datafusion-ballista-python-spark"),  # FLIGHT_SQL_SERVER_NAME
        (1, _package_version()),  # FLIGHT_SQL_SERVER_VERSION
        (2, pa.__version__),  # FLIGHT_SQL_SERVER_ARROW_VERSION
        (3, False),  # FLIGHT_SQL_SERVER_READ_ONLY
        (4, True),  # FLIGHT_SQL_SERVER_SQL
    ]
)


def _sql_info_table(requested: list[int]) -> pa.Table:
    """GetSqlInfo result: the spec's uint32 -> dense-union rows for the
    requested info ids (all known ids when the request names none)."""
    ids = [i for i in (requested or list(_SQL_INFO_VALUES)) if i in _SQL_INFO_VALUES]
    types: list[int] = []
    offsets: list[int] = []
    strings: list[str] = []
    bools: list[bool] = []
    for i in ids:
        v = _SQL_INFO_VALUES[i]
        if isinstance(v, bool):
            types.append(1)
            offsets.append(len(bools))
            bools.append(v)
        else:
            types.append(0)
            offsets.append(len(strings))
            strings.append(str(v))
    union = pa.UnionArray.from_dense(
        pa.array(types, pa.int8()),
        pa.array(offsets, pa.int32()),
        [
            pa.array(strings, pa.utf8()),
            pa.array(bools, pa.bool_()),
            pa.array([], pa.int64()),
            pa.array([], pa.int32()),
            pa.array([], pa.list_(pa.utf8())),
            pa.array([], pa.map_(pa.int32(), pa.list_(pa.int32()))),
        ],
        field_names=[f.name for f in _SQL_INFO_VALUE_TYPE],
    )
    return pa.table(
        {"info_name": pa.array(ids, pa.uint32()), "value": union}
    ).cast(_GET_SQL_INFO_SCHEMA)


def _requested_info_ids(fields: dict[int, list]) -> list[int]:
    """CommandGetSqlInfo.info is repeated uint32: either packed (one
    length-delimited blob of varints) or unpacked (one varint per tag)."""
    out: list[int] = []
    for v in fields.get(1, []):
        if isinstance(v, int):
            out.append(v)
        else:  # packed
            pos = 0
            data = bytes(v)
            while pos < len(data):
                val, pos = _read_varint(data, pos)
                out.append(val)
    return out


def _get_tables_schema(include_schema: bool) -> pa.Schema:
    fields = [
        pa.field("catalog_name", pa.utf8()),
        pa.field("db_schema_name", pa.utf8()),
        pa.field("table_name", pa.utf8(), nullable=False),
        pa.field("table_type", pa.utf8(), nullable=False),
    ]
    if include_schema:
        fields.append(pa.field("table_schema", pa.binary(), nullable=False))
    return pa.schema(fields)


def _like_to_regex(pattern: str) -> re.Pattern:
    """SQL LIKE pattern (%, _) → anchored regex."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out) + "$")


def _serialized_schema(schema: pa.Schema) -> bytes:
    """Schema as an Arrow IPC stream (what GetTables' table_schema and
    ActionCreatePreparedStatementResult.dataset_schema carry)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema):
        pass
    return sink.getvalue().to_pybytes()


# gRPC clients refuse response metadata above 8 KiB by default, and a
# Spark task failure's message carries whole JVM stack traces
_MAX_ERROR_CHARS = 2048


def _report_failures(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Re-raise a failure of the running query as a ``FlightServerError``
    carrying its root cause, short enough for gRPC status metadata."""
    try:
        yield from batches
    except Exception as exc:
        cause = getattr(exc, "java_exception", None)  # py4j.protocol.Py4JJavaError
        if cause is None:
            message = f"{type(exc).__name__}: {exc}"
        else:
            while cause.getCause() is not None:
                cause = cause.getCause()
            message = f"{cause.getClass().getName()}: {cause.getMessage()}"
        raise flight.FlightServerError(message[:_MAX_ERROR_CHARS]) from exc


def _is_command(df) -> bool:
    """True when spark.sql() already EXECUTED the statement eagerly
    (DDL/DML commands run during analysis — SELECTs stay lazy)."""
    try:
        name = df._jdf.queryExecution().analyzed().getClass().getName()
    except Exception:
        return False
    return name.endswith("CommandResult") or name.endswith("Command")


# ---------------------------------------------------------------------------
# the server
# ---------------------------------------------------------------------------


_CMD_PREFIX = b"cmd:"


class FlightSqlServer(flight.FlightServerBase if flight else object):
    """Arrow Flight SQL front-end for a SparkSession's catalog."""

    def __init__(
        self,
        spark: SparkSession,
        location: str = "grpc://127.0.0.1:0",
        planned_ttl_sec: float = 30.0,
    ):
        """``planned_ttl_sec`` bounds the GetSchema -> GetFlightInfo window
        for eager (side-effecting) statements: a GetFlightInfo that follows
        GetSchema for the same statement text WITHIN the TTL consumes the
        already-executed plan (the statement runs exactly once); past the
        TTL the planned entry has expired and GetFlightInfo re-plans — i.e.
        a client that pauses longer than the TTL between the two RPCs will
        execute a side-effecting statement twice.  Raise it for clients
        with long think-time between metadata and execution RPCs; the
        default matches typical driver pipelining (back-to-back RPCs)."""
        if flight is None:  # pragma: no cover
            raise BallistaError("pyarrow was built without flight support")
        super().__init__(location)
        self.spark = spark
        # eagerly-executed statements (DDL/DML): spark.sql() runs them at
        # plan time, so the result is cached under a one-shot handle and
        # DoGet serves the cache instead of executing a second time
        self._command_results: "OrderedDict[bytes, pa.Table]" = OrderedDict()
        # eager statements planned by GetSchema, keyed by query text —
        # consumed by the next GetFlightInfo for the same text so the
        # GetSchema -> GetFlightInfo -> DoGet sequence executes ONCE.
        # Entries carry a monotonic deadline: a GetSchema whose client
        # never follows up must not leave a stale planned result that a
        # LATER independent GetFlightInfo for the same text would consume
        # (silently skipping re-execution) — past the TTL the entry is a
        # miss and the statement re-plans (advisor finding r6).
        self._planned_by_text: "OrderedDict[str, tuple]" = OrderedDict()
        if planned_ttl_sec <= 0:
            raise BallistaError(
                f"planned_ttl_sec must be positive, got {planned_ttl_sec}"
            )
        self._planned_ttl_sec = float(planned_ttl_sec)
        # Flight servers dispatch RPCs on a thread pool: the compound
        # read-modify-write sequences on the two shared OrderedDicts
        # (lookup+pop, insert+evict) need a lock to stay consistent
        self._cache_lock = threading.Lock()

    # -- helpers -----------------------------------------------------------

    def _plan_statement(
        self, query: str, for_schema: bool = False
    ) -> tuple[pa.Schema, bytes]:
        """Plan (and for eager commands: execute exactly once) a SQL
        statement; returns (result schema, DoGet handle).  SELECTs get the
        STATELESS query-text handle; commands get a cached-result handle
        because re-executing them on DoGet would apply their side effects
        twice.

        ``for_schema`` is the GetSchema path: an eager command planned for
        its schema is cached BY QUERY TEXT and the next GetFlightInfo for
        the same text consumes that entry instead of re-executing —
        GetSchema -> GetFlightInfo -> DoGet applies side effects exactly
        once (previously GetSchema executed AND GetFlightInfo executed
        again).  Two plain GetFlightInfo calls still execute twice, as a
        client re-running the same statement expects."""
        import time

        with self._cache_lock:
            cached = self._planned_by_text.get(query)
            if cached is not None:
                schema, handle, deadline = cached
                if time.monotonic() >= deadline:
                    # expired: the planning client never followed up; do
                    # not hand its stale result to an unrelated caller
                    self._planned_by_text.pop(query, None)
                    self._command_results.pop(handle, None)
                elif not for_schema:
                    self._planned_by_text.pop(query)
                    return schema, handle
                else:
                    return schema, handle
        df = self.spark.sql(query)
        if _is_command(df):
            table = df.toArrow()  # command output is tiny (acks/row counts)
            handle = _CMD_PREFIX + uuid.uuid4().hex.encode()
            with self._cache_lock:
                self._command_results[handle] = table
                while len(self._command_results) > 128:
                    self._command_results.popitem(last=False)
                if for_schema:
                    self._planned_by_text[query] = (
                        table.schema,
                        handle,
                        time.monotonic() + self._planned_ttl_sec,
                    )
                    while len(self._planned_by_text) > 128:
                        self._planned_by_text.popitem(last=False)
            return table.schema, handle
        return result_arrow_schema(df), query.encode()

    def _statement_info(
        self, descriptor, schema: pa.Schema, ticket_type: str, handle: bytes
    ) -> "flight.FlightInfo":
        ticket = flight.Ticket(pack_any(_SQL_NS + ticket_type, _ld(1, handle)))
        endpoint = flight.FlightEndpoint(ticket, [])
        return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def _schema_for_handle(self, handle: bytes) -> pa.Schema:
        if handle.startswith(_CMD_PREFIX):
            table = self._command_results.get(handle)
            if table is None:
                raise BallistaError(
                    "unknown command handle (command results are served by "
                    "the planning server; re-submit the statement)"
                )
            return table.schema
        return result_arrow_schema(self.spark.sql(handle.decode()))

    def _metadata_info(self, descriptor, schema: pa.Schema) -> "flight.FlightInfo":
        # metadata tickets round-trip the command itself
        ticket = flight.Ticket(bytes(descriptor.command))
        return flight.FlightInfo(schema, descriptor, [flight.FlightEndpoint(ticket, [])], -1, -1)

    # -- catalog metadata --------------------------------------------------

    def _catalogs_table(self) -> pa.Table:
        names = [c.name for c in self.spark.catalog.listCatalogs()]
        return pa.table({"catalog_name": pa.array(names, pa.utf8())}).cast(
            _GET_CATALOGS_SCHEMA
        )

    def _schemas_for_catalog(self, catalog_filter: Optional[str]) -> tuple[str, list[str]]:
        """(catalog label, schema names) for a FlightSQL catalog filter:
        None -> current catalog; "" -> empty per spec (every Spark schema
        lives in a catalog); another advertised catalog -> SHOW NAMESPACES
        IN it; unknown -> empty."""
        current = self.spark.catalog.currentCatalog()
        if catalog_filter is None or catalog_filter == current:
            return current, [d.name for d in self.spark.catalog.listDatabases()]
        if catalog_filter == "":
            return current, []
        known = {c.name for c in self.spark.catalog.listCatalogs()}
        if catalog_filter in known:
            try:
                rows = self.spark.sql(
                    f"SHOW NAMESPACES IN `{catalog_filter}`"
                ).collect()
                return catalog_filter, [r[0] for r in rows]
            except Exception:
                return catalog_filter, []
        return catalog_filter, []

    def _db_schemas_table(self, fields: dict[int, list]) -> pa.Table:
        catalog_filter = _str_field(fields, 1)
        pattern = _str_field(fields, 2)
        label, names = self._schemas_for_catalog(catalog_filter)
        if pattern is not None:
            rx = _like_to_regex(pattern)
            names = [n for n in names if rx.match(n)]
        return pa.table(
            {
                "catalog_name": pa.array([label] * len(names), pa.utf8()),
                "db_schema_name": pa.array(names, pa.utf8()),
            }
        ).cast(_GET_DB_SCHEMAS_SCHEMA)

    def _tables_table(self, fields: dict[int, list]) -> pa.Table:
        catalog_filter = _str_field(fields, 1)
        schema_pattern = _str_field(fields, 2)
        name_pattern = _str_field(fields, 3)
        table_types = [bytes(v).decode() for v in fields.get(4, [])]
        include_schema = bool(fields.get(5, [0])[0])
        current = self.spark.catalog.currentCatalog()
        rows = []
        for t in self.spark.catalog.listTables():
            ttype = "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "TABLE"
            ns = t.namespace[0] if t.namespace else None
            if catalog_filter is not None and catalog_filter != current:
                # "" means 'tables without a catalog' per spec — none in
                # Spark; other catalogs aren't browsed by this session
                continue
            if schema_pattern is not None and not _like_to_regex(
                schema_pattern
            ).match(ns or ""):
                continue
            if table_types and ttype not in table_types:
                continue
            if name_pattern is not None and not _like_to_regex(name_pattern).match(t.name):
                continue
            rows.append((current, ns, t.name, ttype))
        data = {
            "catalog_name": pa.array([r[0] for r in rows], pa.utf8()),
            "db_schema_name": pa.array([r[1] for r in rows], pa.utf8()),
            "table_name": pa.array([r[2] for r in rows], pa.utf8()),
            "table_type": pa.array([r[3] for r in rows], pa.utf8()),
        }
        if include_schema:
            blobs = [
                _serialized_schema(result_arrow_schema(self.spark.table(r[2])))
                for r in rows
            ]
            data["table_schema"] = pa.array(blobs, pa.binary())
        return pa.table(data).cast(_get_tables_schema(include_schema))

    # -- Flight RPCs -------------------------------------------------------

    def get_flight_info(self, context, descriptor):
        type_name, payload = unpack_any(bytes(descriptor.command))
        fields = _parse(payload)
        if type_name == _SQL_NS + "CommandStatementQuery":
            query = _str_field(fields, 1) or ""
            schema, handle = self._plan_statement(query)
            return self._statement_info(
                descriptor, schema, "TicketStatementQuery", handle
            )
        if type_name == _SQL_NS + "CommandPreparedStatementQuery":
            handle = bytes(fields.get(1, [b""])[0])
            return self._statement_info(
                descriptor,
                self._schema_for_handle(handle),
                "CommandPreparedStatementQuery",
                handle,
            )
        if type_name == _SQL_NS + "CommandGetCatalogs":
            return self._metadata_info(descriptor, _GET_CATALOGS_SCHEMA)
        if type_name == _SQL_NS + "CommandGetDbSchemas":
            return self._metadata_info(descriptor, _GET_DB_SCHEMAS_SCHEMA)
        if type_name == _SQL_NS + "CommandGetTables":
            include_schema = bool(fields.get(5, [0])[0])
            return self._metadata_info(descriptor, _get_tables_schema(include_schema))
        if type_name == _SQL_NS + "CommandGetTableTypes":
            return self._metadata_info(descriptor, _GET_TABLE_TYPES_SCHEMA)
        if type_name == _SQL_NS + "CommandGetSqlInfo":
            return self._metadata_info(descriptor, _GET_SQL_INFO_SCHEMA)
        if type_name == _SQL_NS + "CommandGetPrimaryKeys":
            return self._metadata_info(descriptor, _GET_PRIMARY_KEYS_SCHEMA)
        if type_name in (
            _SQL_NS + "CommandGetImportedKeys",
            _SQL_NS + "CommandGetExportedKeys",
            _SQL_NS + "CommandGetCrossReference",
        ):
            return self._metadata_info(descriptor, _GET_KEYS_SCHEMA)
        if type_name == _SQL_NS + "CommandGetXdbcTypeInfo":
            return self._metadata_info(descriptor, _GET_XDBC_TYPE_INFO_SCHEMA)
        raise BallistaError(f"unsupported FlightSQL command: {type_name or 'empty'}")

    def get_schema(self, context, descriptor):
        type_name, payload = unpack_any(bytes(descriptor.command))
        if type_name == _SQL_NS + "CommandStatementQuery":
            # schema probe for a statement: route through the by-text
            # cache so an eager DDL/DML is not executed a second time by
            # the GetFlightInfo that follows
            query = _str_field(_parse(payload), 1) or ""
            schema, _handle = self._plan_statement(query, for_schema=True)
            return flight.SchemaResult(schema)
        return flight.SchemaResult(self.get_flight_info(context, descriptor).schema)

    def do_get(self, context, ticket):
        type_name, payload = unpack_any(bytes(ticket.ticket))
        fields = _parse(payload)
        if type_name in (
            _SQL_NS + "TicketStatementQuery",
            _SQL_NS + "CommandPreparedStatementQuery",
        ):
            handle = bytes(fields.get(1, [b""])[0])
            if handle.startswith(_CMD_PREFIX):
                # eager command: executed exactly once at planning; serve
                # the cached result instead of applying side effects again
                table = self._command_results.get(handle)
                if table is None:
                    raise BallistaError(
                        "unknown command handle (command results are served "
                        "by the planning server; re-submit the statement)"
                    )
                return flight.RecordBatchStream(table)
            # SELECT path: executed on the full distributed engine, Arrow
            # end to end, and STREAMED — collect_stream serves the
            # JVM-built Arrow batches of one partition at a time, so
            # driver memory stays bounded no matter how large the result
            # is.  collect_stream decodes with this same declared schema,
            # even where the optimized plan narrowed a column to non-null.
            from .dataframe import DataFrame as _BDF

            df = self.spark.sql(handle.decode())
            return flight.GeneratorStream(
                result_arrow_schema(df), _report_failures(_BDF(df).collect_stream())
            )
        if type_name == _SQL_NS + "CommandGetCatalogs":
            return flight.RecordBatchStream(self._catalogs_table())
        if type_name == _SQL_NS + "CommandGetDbSchemas":
            return flight.RecordBatchStream(self._db_schemas_table(fields))
        if type_name == _SQL_NS + "CommandGetTables":
            return flight.RecordBatchStream(self._tables_table(fields))
        if type_name == _SQL_NS + "CommandGetTableTypes":
            return flight.RecordBatchStream(
                pa.table({"table_type": pa.array(["TABLE", "VIEW"], pa.utf8())}).cast(
                    _GET_TABLE_TYPES_SCHEMA
                )
            )
        if type_name == _SQL_NS + "CommandGetSqlInfo":
            return flight.RecordBatchStream(
                _sql_info_table(_requested_info_ids(fields))
            )
        if type_name == _SQL_NS + "CommandGetPrimaryKeys":
            # Spark temp views / parquet tables carry no PK metadata;
            # the spec-shaped empty result tells clients exactly that
            return flight.RecordBatchStream(_GET_PRIMARY_KEYS_SCHEMA.empty_table())
        if type_name in (
            _SQL_NS + "CommandGetImportedKeys",
            _SQL_NS + "CommandGetExportedKeys",
            _SQL_NS + "CommandGetCrossReference",
        ):
            # no FK constraint metadata in the Spark catalog either
            return flight.RecordBatchStream(_GET_KEYS_SCHEMA.empty_table())
        if type_name == _SQL_NS + "CommandGetXdbcTypeInfo":
            # optional int32 data_type filter at proto field 1 — SIGN-decode
            # it: negative java.sql.Types codes (TINYINT -6, BIGINT -5,
            # BINARY -2) arrive as two's-complement varints, and the raw
            # int() decode made every negative filter match zero rows
            dt = fields.get(1)
            return flight.RecordBatchStream(
                _xdbc_type_info_table(_signed64(dt[0]) if dt else None)
            )
        raise BallistaError(f"unsupported FlightSQL ticket: {type_name or 'empty'}")

    def do_put(self, context, descriptor, reader, writer):
        """FlightSQL DML path: CommandStatementUpdate / prepared update —
        what an ADBC client's ExecuteUpdate sends.  Executes exactly once
        and reports DoPutUpdateResult{record_count} in the put metadata
        (-1 = unknown: Spark DML commands don't always surface a row
        count)."""
        type_name, payload = unpack_any(bytes(descriptor.command))
        fields = _parse(payload)
        if type_name == _SQL_NS + "CommandStatementUpdate":
            query = _str_field(fields, 1) or ""
        elif type_name == _SQL_NS + "CommandPreparedStatementUpdate":
            handle = bytes(fields.get(1, [b""])[0])
            if handle.startswith(_CMD_PREFIX):
                # the DML already executed (exactly once) at prepare time;
                # acknowledging here without re-executing keeps the
                # exactly-once guarantee — the handle is NOT SQL text
                if handle not in self._command_results:
                    raise BallistaError(
                        "unknown prepared command handle (results live on "
                        "the preparing server; re-prepare the statement)"
                    )
                writer.write(pa.py_buffer(_vi(1, -1)))
                return
            query = handle.decode()
        else:
            raise BallistaError(f"unsupported FlightSQL DoPut: {type_name or 'empty'}")
        result = self.spark.sql(query)  # executes the DML eagerly
        count = -1
        try:
            rows = result.collect()
            v = rows[0][0] if rows and len(rows[0]) == 1 else None
            if isinstance(v, int) and not isinstance(v, bool):
                count = v  # e.g. num_affected_rows
        except Exception:
            pass
        writer.write(pa.py_buffer(_vi(1, count)))

    def do_action(self, context, action) -> Iterator[bytes]:
        body = bytes(action.body.to_pybytes()) if action.body else b""
        if action.type == "CreatePreparedStatement":
            type_name, payload = unpack_any(body)
            fields = _parse(payload)
            query = _str_field(fields, 1) or ""
            # one plan (and for eager commands, exactly one execution);
            # the returned handle is what CommandPreparedStatementQuery
            # later presents, so commands never re-execute per fetch
            schema, handle = self._plan_statement(query)
            result = pack_any(
                _SQL_NS + "ActionCreatePreparedStatementResult",
                _ld(1, handle) + _ld(2, _serialized_schema(schema)),
            )
            yield result
            return
        if action.type == "ClosePreparedStatement":
            # stateless handles: nothing to release
            return
        raise BallistaError(f"unsupported FlightSQL action: {action.type}")

    def list_actions(self, context):
        return [
            ("CreatePreparedStatement", "Create a prepared statement"),
            ("ClosePreparedStatement", "Close a prepared statement"),
        ]


# ---------------------------------------------------------------------------
# client-side helpers (what an ADBC driver does under the hood) — used by
# tests and the CLI to drive the endpoint without external dependencies
# ---------------------------------------------------------------------------


def statement_query_descriptor(query: str) -> "flight.FlightDescriptor":
    """FlightDescriptor an ADBC/JDBC flight-sql client sends for a query."""
    return flight.FlightDescriptor.for_command(
        pack_any(_SQL_NS + "CommandStatementQuery", _ld(1, query.encode()))
    )


def metadata_descriptor(command: str, **kwargs) -> "flight.FlightDescriptor":
    """Descriptor for CommandGetCatalogs / CommandGetDbSchemas /
    CommandGetTables / CommandGetTableTypes."""
    payload = b""
    if command == "CommandGetTables":
        if kwargs.get("catalog") is not None:
            payload += _ld(1, kwargs["catalog"].encode())
        if kwargs.get("db_schema_filter_pattern"):
            payload += _ld(2, kwargs["db_schema_filter_pattern"].encode())
        if kwargs.get("table_name_filter_pattern"):
            payload += _ld(3, kwargs["table_name_filter_pattern"].encode())
        for tt in kwargs.get("table_types", []):
            payload += _ld(4, tt.encode())
        if kwargs.get("include_schema"):
            payload += _vi(5, 1)
    elif command == "CommandGetDbSchemas" and kwargs.get("db_schema_filter_pattern"):
        payload += _ld(2, kwargs["db_schema_filter_pattern"].encode())
    elif command == "CommandGetSqlInfo":
        for info_id in kwargs.get("info", []):
            payload += _vi(1, info_id)
    elif command == "CommandGetPrimaryKeys" and kwargs.get("table"):
        payload += _ld(3, kwargs["table"].encode())
    elif command in (
        "CommandGetImportedKeys",
        "CommandGetExportedKeys",
    ) and kwargs.get("table"):
        payload += _ld(3, kwargs["table"].encode())
    elif command == "CommandGetCrossReference":
        if kwargs.get("pk_table"):
            payload += _ld(3, kwargs["pk_table"].encode())
        if kwargs.get("fk_table"):
            payload += _ld(6, kwargs["fk_table"].encode())
    elif command == "CommandGetXdbcTypeInfo" and kwargs.get("data_type") is not None:
        payload += _vi(1, kwargs["data_type"])
    return flight.FlightDescriptor.for_command(pack_any(_SQL_NS + command, payload))


def execute_query(client: "flight.FlightClient", query: str) -> pa.Table:
    """Full client round-trip: GetFlightInfo(CommandStatementQuery) →
    DoGet(endpoint ticket) → Arrow table."""
    info = client.get_flight_info(statement_query_descriptor(query))
    return client.do_get(info.endpoints[0].ticket).read_all()


def execute_update(client: "flight.FlightClient", query: str) -> int:
    """ADBC-style ExecuteUpdate: DoPut(CommandStatementUpdate) with no
    data stream; returns the server-reported record count (-1 =
    unknown)."""
    desc = flight.FlightDescriptor.for_command(
        pack_any(_SQL_NS + "CommandStatementUpdate", _ld(1, query.encode()))
    )
    writer, metadata_reader = client.do_put(desc, pa.schema([]))
    writer.done_writing()
    buf = metadata_reader.read()
    writer.close()
    if buf is None:
        return -1
    fields = _parse(buf.to_pybytes())
    vals = fields.get(1)
    return _signed64(vals[0]) if vals else -1


def prepare_and_execute(client: "flight.FlightClient", query: str) -> pa.Table:
    """Prepared-statement round-trip via DoAction."""
    req = pack_any(
        _SQL_NS + "ActionCreatePreparedStatementRequest", _ld(1, query.encode())
    )
    results = list(client.do_action(flight.Action("CreatePreparedStatement", req)))
    type_name, payload = unpack_any(results[0].body.to_pybytes())
    handle = bytes(_parse(payload).get(1, [b""])[0])
    desc = flight.FlightDescriptor.for_command(
        pack_any(_SQL_NS + "CommandPreparedStatementQuery", _ld(1, handle))
    )
    info = client.get_flight_info(desc)
    table = client.do_get(info.endpoints[0].ticket).read_all()
    client.do_action(
        flight.Action(
            "ClosePreparedStatement",
            pack_any(_SQL_NS + "ActionClosePreparedStatementRequest", _ld(1, handle)),
        )
    )
    return table


def start_flightsql_endpoint(
    spark: SparkSession, port: int = 0, host: str = "127.0.0.1"
) -> FlightSqlServer:
    """Start the Flight SQL endpoint on a background thread; returns the
    server (``server.port`` is the bound port; ``server.shutdown()`` stops
    it)."""
    server = FlightSqlServer(spark, f"grpc://{host}:{port}")
    thread = threading.Thread(target=server.serve, daemon=True, name="flightsql-serve")
    thread.start()
    return server
