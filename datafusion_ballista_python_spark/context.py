"""BallistaContext: the session/catalog entry point.

Reference parity (``src/context.rs:41-172``): constructor knobs
``shuffle_partitions``/``batch_size``, ad-hoc readers, named registration,
``sql()``.  ``host``/``port`` selected a remote Ballista scheduler; on Spark
the scheduler is the driver itself, so they are accepted for API
compatibility and recorded but a local/attached SparkSession is used
(SURVEY §2.12: Spark driver == scheduler, executors == executors).  Without
``spark`` the session comes from ``session.build_session``, the same builder
the bench and the tests use.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import SparkSession

from . import sources
from .dataframe import DataFrame
from .errors import BallistaError
from .session import build_session, ensure_session_confs, translate_conf


class BallistaContext:
    """Session + catalog (reference ``src/context.rs:41-64``)."""

    def __init__(
        self,
        host: str = "localhost",
        port: int = 50050,
        shuffle_partitions: int = 16,
        batch_size: "Optional[int]" = None,
        spark: Optional[SparkSession] = None,
        master: Optional[str] = None,
    ):
        self.host = host
        self.port = port
        if spark is not None:
            self.spark = ensure_session_confs(spark)
            self.spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
            # an EXPLICIT batch_size must land on provided sessions too —
            # it was silently ignored, leaving the two constructor knobs
            # asymmetric for injected sessions.  None (the default) leaves
            # the injected session's batch shape alone.
            if batch_size is not None:
                self.spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
                )
        else:
            # reference default batch_size = 8192 when building our own
            self.spark = build_session(
                shuffle_partitions=shuffle_partitions,
                batch_size=8192 if batch_size is None else batch_size,
                master=master,
            )

    # -- conf --------------------------------------------------------------

    def set_conf(self, key: str, value) -> None:
        """Set a ballista./datafusion./spark. config key (configs.md)."""
        mapped = translate_conf(key)
        if mapped is None:
            return  # engine-internal knob with no Spark analogue; accept+ignore
        self.spark.conf.set(mapped, str(value))

    # -- ad-hoc readers (src/context.rs:66-98) -----------------------------

    def read_csv(self, path: str, has_header: bool = False, **options) -> DataFrame:
        return DataFrame(sources.read_csv(self.spark, path, has_header=has_header, **options))

    def read_parquet(self, path: str) -> DataFrame:
        return DataFrame(sources.read_parquet(self.spark, path))

    def read_avro(self, path: str) -> DataFrame:
        return DataFrame(sources.read_avro(self.spark, path))

    def read_json(self, path: str) -> DataFrame:
        """Extension (reference lacks JSON, OLDREADME.md:37)."""
        return DataFrame(sources.read_json(self.spark, path))

    def read_orc(self, path: str) -> DataFrame:
        """Extension (ORC is outside the reference's csv/parquet/avro
        surface; native Spark scan with pushdown + pruning)."""
        return DataFrame(sources.read_orc(self.spark, path))

    # -- named registration (src/context.rs:100-163) -----------------------

    def register_csv(
        self,
        name: str,
        path: str,
        schema: Optional[pa.Schema] = None,
        has_header: bool = True,
        delimiter: str = ",",
        schema_infer_max_records: int = 1000,
        file_extension: str = ".csv",
    ) -> None:
        df = sources.read_csv(
            self.spark,
            path,
            has_header=has_header,
            schema=schema,
            delimiter=delimiter,
            schema_infer_max_records=schema_infer_max_records,
            file_extension=file_extension,
        )
        df.createOrReplaceTempView(name)

    def register_parquet(self, name: str, path: str) -> None:
        df = sources.read_parquet(self.spark, path)
        df = sources.normalize_ns_timestamps(df)
        df.createOrReplaceTempView(name)

    def register_udtf(self, fn, name=None) -> None:
        """Register a :func:`datafusion_ballista_python_spark.udtf.udtf`
        table function for SQL use (``SELECT * FROM name(...)``)."""
        from .udtf import register_udtf

        register_udtf(self.spark, fn, name=name)

    def register_avro(self, name: str, path: str) -> None:
        sources.read_avro(self.spark, path).createOrReplaceTempView(name)

    def register_json(self, name: str, path: str) -> None:
        sources.read_json(self.spark, path).createOrReplaceTempView(name)

    def register_orc(self, name: str, path: str) -> None:
        sources.read_orc(self.spark, path).createOrReplaceTempView(name)

    def register_table(self, name: str, df: DataFrame) -> None:
        df.df.createOrReplaceTempView(name)

    def deregister_table(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)

    def tables(self) -> list[str]:
        """SHOW TABLES (information_schema parity, src/context.rs:56)."""
        return [t.name for t in self.spark.catalog.listTables()]

    # -- in-memory source (docs parity, python.md:116-120) -----------------

    def create_dataframe(self, partitions) -> DataFrame:
        """Build a DataFrame from [[pyarrow.RecordBatch]] (docs-only API the
        reference never bound — implemented here, SURVEY §0)."""
        return DataFrame(sources.from_arrow(self.spark, partitions))

    def start_sql_endpoint(self, port: int = 10000) -> int:
        """Serve this context's catalog over the Thrift JDBC/ODBC protocol —
        the Spark-native equivalent of the reference's FlightSQL gateway
        (docs/source/user-guide/flightsql.md); any Hive JDBC client can
        query the registered tables.  Returns the listening port."""
        from .endpoint import start_sql_endpoint

        return start_sql_endpoint(self.spark, port=port)

    def start_flightsql_endpoint(self, port: int = 0):
        """Serve this context's catalog over Arrow Flight SQL — the exact
        wire protocol the reference scheduler speaks
        (docs/source/user-guide/flightsql.md), so ADBC / flight-sql-jdbc
        clients connect directly.  Returns the running server
        (``.port``, ``.shutdown()``)."""
        from .flightsql import start_flightsql_endpoint

        return start_flightsql_endpoint(self.spark, port=port)

    # -- SQL (src/context.rs:166-172) --------------------------------------

    def sql(self, query: str) -> DataFrame:
        """Parse/plan via Catalyst; lazy until collect/show (python.md:56).

        ``CREATE EXTERNAL TABLE ... STORED AS <fmt> LOCATION '<path>'``
        (DataFusion DDL, python.md:51) is translated to a temp-view
        registration since Spark's dialect differs.
        """
        ddl = _parse_external_table_ddl(query)
        if ddl is not None:
            name, fmt, path, header = ddl
            if fmt == "parquet":
                self.register_parquet(name, path)
            elif fmt == "csv":
                self.register_csv(name, path, has_header=header)
            elif fmt == "avro":
                self.register_avro(name, path)
            elif fmt == "json":
                self.register_json(name, path)
            elif fmt == "orc":
                self.register_orc(name, path)
            else:
                raise BallistaError(f"unsupported STORED AS format {fmt!r}")
            return DataFrame(self.spark.sql(f"SELECT * FROM {name} LIMIT 0"))
        return DataFrame(self.spark.sql(query))


def _parse_external_table_ddl(query: str):
    """Minimal CREATE EXTERNAL TABLE parser (DataFusion dialect).

    Grammar seen in the reference docs/CLI:
    ``CREATE EXTERNAL TABLE name STORED AS CSV [WITH HEADER ROW] LOCATION 'p'``
    """
    import re

    m = re.match(
        r"\s*CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(?:\([^)]*\))?\s*"
        r"STORED\s+AS\s+(\w+)\s*(WITH\s+HEADER\s+ROW)?\s*"
        r"LOCATION\s+'([^']+)'\s*;?\s*$",
        query,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        return None
    name, fmt, header, path = m.group(1), m.group(2).lower(), m.group(3), m.group(4)
    return name, fmt, path, header is not None
