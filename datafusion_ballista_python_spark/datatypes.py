"""pyarrow <-> Spark type mapping.

The reference's public type contract is pyarrow ``DataType`` end-to-end
(``src/datatype.rs:22-26``, UDF signatures ``src/udf.rs:71-87``, literals via
``pa.scalar`` at ``ballista/__init__.py:72-75``).  We keep pyarrow at the API
boundary and convert to Spark SQL types internally (SURVEY §1.3).

Deliberate deviations (documented, SURVEY §1.3):
- unsigned ints widen (uint8->short, uint16->int, uint32->long,
  uint64->decimal(20,0)) because Spark has no unsigned types;
- timestamp[ns] truncates to microseconds (Spark timestamp precision);
- time32/time64 have no Spark equivalent and are rejected.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

from .errors import BallistaError

_PA_TO_SPARK = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.uint64(): T.DecimalType(20, 0),
    pa.float16(): T.FloatType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.binary(): T.BinaryType(),
    pa.large_binary(): T.BinaryType(),
    pa.date32(): T.DateType(),
    pa.date64(): T.DateType(),
    pa.null(): T.NullType(),
}


def arrow_to_spark(dt: pa.DataType) -> T.DataType:
    """Convert a pyarrow DataType to the matching Spark DataType."""
    if dt in _PA_TO_SPARK:
        return _PA_TO_SPARK[dt]
    if pa.types.is_timestamp(dt):
        # ns truncates to us (SURVEY §1.3); tz-less arrow ts -> TimestampNTZ
        return T.TimestampType() if dt.tz else T.TimestampNTZType()
    if pa.types.is_decimal(dt):
        return T.DecimalType(dt.precision, dt.scale)
    if pa.types.is_list(dt) or pa.types.is_large_list(dt):
        return T.ArrayType(arrow_to_spark(dt.value_type))
    if pa.types.is_struct(dt):
        return T.StructType(
            [T.StructField(f.name, arrow_to_spark(f.type), f.nullable) for f in dt]
        )
    if pa.types.is_map(dt):
        return T.MapType(arrow_to_spark(dt.key_type), arrow_to_spark(dt.item_type))
    if pa.types.is_duration(dt):
        return T.DayTimeIntervalType()
    raise BallistaError(f"unsupported arrow type for Spark conversion: {dt}")


def spark_to_arrow(dt: T.DataType) -> pa.DataType:
    """Convert a Spark DataType to pyarrow (for ``DataFrame.schema()``)."""
    mapping = {
        T.BooleanType(): pa.bool_(),
        T.ByteType(): pa.int8(),
        T.ShortType(): pa.int16(),
        T.IntegerType(): pa.int32(),
        T.LongType(): pa.int64(),
        T.FloatType(): pa.float32(),
        T.DoubleType(): pa.float64(),
        T.StringType(): pa.string(),
        T.BinaryType(): pa.binary(),
        T.DateType(): pa.date32(),
        T.NullType(): pa.null(),
    }
    if dt in mapping:
        return mapping[dt]
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.ArrayType):
        return pa.list_(spark_to_arrow(dt.elementType))
    if isinstance(dt, T.StructType):
        return pa.struct(
            [pa.field(f.name, spark_to_arrow(f.dataType), f.nullable) for f in dt.fields]
        )
    if isinstance(dt, T.MapType):
        return pa.map_(spark_to_arrow(dt.keyType), spark_to_arrow(dt.valueType))
    if isinstance(dt, T.DayTimeIntervalType):
        return pa.duration("us")
    raise BallistaError(f"unsupported Spark type for arrow conversion: {dt}")


def spark_schema_to_arrow(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, spark_to_arrow(f.dataType), f.nullable) for f in schema.fields]
    )


def result_arrow_schema(df) -> pa.Schema:
    """Arrow schema of a pyspark DataFrame's result, derived exactly as
    pyspark's ``toArrow`` derives it.  The JVM's Arrow writer honours
    ``spark.sql.execution.arrow.useLargeVarTypes`` (int64 offsets for
    string/binary), so a schema that ignores it mis-decodes the batches —
    and pyarrow aborts the process on the mismatched offsets instead of
    raising."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def arrow_schema_to_spark(schema: pa.Schema) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, arrow_to_spark(f.type), f.nullable) for f in schema]
    )
