"""Source readers / table registration (reference ``src/context.rs:66-163``).

Each reader returns a plain pyspark DataFrame (the context wraps it).  Scan
parallelism: the reference maps 1 file -> 1 partition
(``tuning-guide.md:27-34``); Spark additionally *splits* large files by
``spark.sql.files.maxPartitionBytes`` — strictly better at 100 TB, so we keep
Spark's behavior and document the difference.

The events table's ``timestamp[ns]`` column is handled here: Spark cannot
scan TIMESTAMP(NANOS) parquet, so sessions set
``spark.sql.legacy.parquet.nanosAsLong`` and :func:`normalize_ns_timestamps`
rebuilds a microsecond ``timestamp_ntz`` (truncation — same semantics DuckDB
applies when casting ns->us).
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..datatypes import arrow_schema_to_spark
from ..errors import BallistaError
from .avro import read_avro  # noqa: F401  (src/context.rs:89-98)

# columns read as raw ns-since-epoch longs (nanosAsLong) that should be
# surfaced as microsecond timestamps; keyed by (table-ish) column name
NS_TIMESTAMP_COLUMNS = {"ts"}


def normalize_ns_timestamps(df: SparkDataFrame, columns=None) -> SparkDataFrame:
    """Convert nanosAsLong-read columns to timestamp_ntz (us, truncating)."""
    cols = set(columns) if columns else NS_TIMESTAMP_COLUMNS
    for name, dtype in df.dtypes:
        if name in cols and dtype == "bigint":
            # integer DIV, not `/`: float division rounds the microsecond
            # (off-by-1us vs DuckDB's truncating ns->us cast)
            df = df.withColumn(
                name,
                F.timestamp_micros(F.expr(f"{name} DIV 1000")).cast("timestamp_ntz"),
            )
    return df


def read_parquet(spark: SparkSession, path: str) -> SparkDataFrame:
    """Parquet scan (src/context.rs:78-87); filter pushdown + column pruning
    reach the scan via Catalyst (verified in tests with .explain)."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    has_header: bool = False,
    schema: Optional[pa.Schema] = None,
    delimiter: str = ",",
    schema_infer_max_records: int = 1000,
    file_extension: str = ".csv",
) -> SparkDataFrame:
    """CSV scan with the reference's register_csv options (src/context.rs:100-145).

    ``schema_infer_max_records`` maps onto Spark's samplingRatio-less
    inference; Spark scans the file for inference (a superset of the
    reference's first-N-records behavior).
    """
    reader = (
        spark.read.option("header", str(bool(has_header)).lower())
        .option("delimiter", delimiter)
    )
    if schema is not None:
        reader = reader.schema(arrow_schema_to_spark(schema))
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str) -> SparkDataFrame:
    """JSON scan — extension; the reference explicitly lacks JSON
    (OLDREADME.md:37 'What does not work? ... JSON')."""
    return spark.read.json(path)


def read_orc(spark: SparkSession, path: str) -> SparkDataFrame:
    """ORC scan — extension beyond the reference surface (which binds
    csv/parquet/avro, src/context.rs:66-98).  ORC is the other columnar
    warehouse format a migrating user holds data in; Spark's native reader
    gives predicate pushdown + column pruning + vectorized decode, the
    same scan properties as parquet."""
    return spark.read.orc(path)


def from_arrow(spark: SparkSession, data) -> SparkDataFrame:
    """In-memory source: pyarrow RecordBatch(es)/Table -> DataFrame
    (``ctx.create_dataframe`` docs parity, python.md:116-120)."""
    if isinstance(data, pa.RecordBatch):
        table = pa.Table.from_batches([data])
    elif isinstance(data, pa.Table):
        table = data
    elif isinstance(data, list):
        batches: list[pa.RecordBatch] = []
        for item in data:
            if isinstance(item, list):
                batches.extend(item)
            else:
                batches.append(item)
        table = pa.Table.from_batches(batches)
    else:
        raise BallistaError(f"cannot build a DataFrame from {type(data).__name__}")
    return spark.createDataFrame(table)
