"""DataFrame: lazy logical plan + composable API over pyspark DataFrame.

Parity surface per reference ``src/dataframe.rs`` (SURVEY §2.2-2.8):
``select_columns / select / filter / with_column / aggregate / sort / limit /
join / collect / show / explain / explain_string / schema / __getitem__``.

The wrapped object IS a Catalyst logical plan — every composition here is
declarative, so predicate pushdown, column pruning, join selection
(broadcast/SMJ/SHJ) and AQE apply with zero custom scheduling.  Nothing
materializes on the driver except explicit ``collect``/``show``
(100 TB design rule, SURVEY §7).
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Sequence, Tuple, Union

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F

from .datatypes import result_arrow_schema, spark_schema_to_arrow
from .errors import BallistaError, unknown_join_type
from .expression import Expression, to_column

# reference src/dataframe.rs:138-146 join-type table; right_semi/right_anti
# have no Spark string -> operand swap (SURVEY §2.4, known-hard #3)
_JOIN_HOW = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "full": "full",
    "semi": "left_semi",
    "anti": "left_anti",
}
_SWAPPED_HOW = {"right_semi": "left_semi", "right_anti": "left_anti"}


class DataFrame:
    """Representation of a logical plan; ``collect()`` executes it
    (reference ``src/dataframe.rs:30-32``)."""

    def __init__(self, df: SparkDataFrame):
        self.df = df

    # -- plan composition --------------------------------------------------

    def select_columns(self, *names: str) -> "DataFrame":
        """Project by column name (src/dataframe.rs:72-76)."""
        return DataFrame(self.df.select(*names))

    def select(self, *exprs) -> "DataFrame":
        return DataFrame(self.df.select(*[to_column(e) for e in exprs]))

    def filter(self, predicate) -> "DataFrame":
        return DataFrame(self.df.filter(to_column(predicate)))

    def with_column(self, name: str, expr) -> "DataFrame":
        return DataFrame(self.df.withColumn(name, to_column(expr)))

    def aggregate(self, group_by: Sequence, aggs: Sequence) -> "DataFrame":
        """Group-by aggregate (src/dataframe.rs:95-100).

        Spark performs partial (map-side) + final hash aggregation
        automatically — the distributed equivalent of
        ``ballista.repartition.aggregations`` (SURVEY §2.5).
        """
        from .udaf import Udaf, apply_udafs

        group_cols = [to_column(g) for g in group_by]
        plain = [a for a in aggs if not isinstance(a, Udaf)]
        udafs = [a for a in aggs if isinstance(a, Udaf)]
        if udafs:
            return DataFrame(apply_udafs(self.df, group_cols, plain, udafs))
        if group_cols:
            return DataFrame(self.df.groupBy(*group_cols).agg(*[to_column(a) for a in plain]))
        return DataFrame(self.df.agg(*[to_column(a) for a in plain]))

    def sort(self, *exprs) -> "DataFrame":
        """Total sort (src/dataframe.rs:102-107); Spark range-partitions the
        sort keys, so it scales out instead of single-node sorting."""
        return DataFrame(self.df.orderBy(*[to_column(e) for e in exprs]))

    def limit(self, count: int) -> "DataFrame":
        return DataFrame(self.df.limit(count))

    def join(
        self,
        right: "DataFrame",
        join_keys: Tuple[Sequence[str], Sequence[str]],
        how: str = "inner",
    ) -> "DataFrame":
        """Equi-join on named key lists (src/dataframe.rs:132-163).

        Physical strategy (broadcast / shuffled-hash / sort-merge) is left to
        Catalyst + AQE, as the reference leaves it to Ballista's planner.
        ``right_semi``/``right_anti`` are emulated by operand swap.
        """
        left_keys, right_keys = join_keys
        if len(left_keys) != len(right_keys):
            raise BallistaError("join_keys lists must have equal length")
        if how in _SWAPPED_HOW:
            cond = [right.df[rk] == self.df[lk] for lk, rk in zip(left_keys, right_keys)]
            return DataFrame(right.df.join(self.df, on=cond, how=_SWAPPED_HOW[how]))
        if how not in _JOIN_HOW:
            raise unknown_join_type(how)
        spark_how = _JOIN_HOW[how]
        if list(left_keys) == list(right_keys):
            # same-named keys: use name-based equi-join so Spark coalesces
            # the key columns (single output key column, like the reference)
            return DataFrame(self.df.join(right.df, on=list(left_keys), how=spark_how))
        cond = [self.df[lk] == right.df[rk] for lk, rk in zip(left_keys, right_keys)]
        return DataFrame(self.df.join(right.df, on=cond, how=spark_how))

    # set operations (SQL-reachable in the reference, SURVEY §2.8)
    def union(self, other: "DataFrame", distinct: bool = False) -> "DataFrame":
        u = self.df.union(other.df)
        return DataFrame(u.distinct() if distinct else u)

    def intersect(self, other: "DataFrame") -> "DataFrame":
        return DataFrame(self.df.intersect(other.df))

    def except_all(self, other: "DataFrame") -> "DataFrame":
        return DataFrame(self.df.exceptAll(other.df))

    def distinct(self) -> "DataFrame":
        return DataFrame(self.df.distinct())

    def repartition(self, num: int, *cols) -> "DataFrame":
        if cols:
            return DataFrame(self.df.repartition(num, *[to_column(c) for c in cols]))
        return DataFrame(self.df.repartition(num))

    # -- indexing (src/dataframe.rs:48-65) ---------------------------------

    def __getitem__(self, key):
        if isinstance(key, str):
            return Expression(self.df[key])
        if isinstance(key, (list, tuple)):
            return self.select_columns(*key)
        raise BallistaError(f"cannot index DataFrame with {type(key).__name__}")

    # -- introspection -----------------------------------------------------

    def schema(self) -> pa.Schema:
        """pyarrow Schema of the plan output (src/dataframe.rs:67-70)."""
        return spark_schema_to_arrow(self.df.schema)

    def explain(self, verbose: bool = False, analyze: bool = False) -> None:
        """Print the plan (src/dataframe.rs:165-174). ``analyze`` maps to
        Spark's formatted mode with codegen info."""
        print(self.explain_string(verbose, analyze))

    def explain_string(self, verbose: bool = False, analyze: bool = False) -> str:
        mode = "extended" if verbose else ("cost" if analyze else "formatted")
        try:
            return self.df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                self.df._jdf.queryExecution(), mode
            )
        except Exception:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                self.df.explain(mode=mode)
            return buf.getvalue()

    # -- actions -----------------------------------------------------------

    def collect(self) -> List[pa.RecordBatch]:
        """Execute and return pyarrow RecordBatches (src/dataframe.rs:114-122).

        Arrow-path collection (no per-row python objects).  For unbounded
        results prefer :meth:`collect_stream`.
        """
        table = self.df.toArrow()
        batches = table.to_batches()
        return batches if batches else [pa.RecordBatch.from_pylist([], schema=table.schema)]

    def collect_stream(self, batch_size: int = 8192) -> Iterator[pa.RecordBatch]:
        """Incremental arrow batches — bounded driver memory at any scale
        (SURVEY §7 known-hard #4).

        The executors build the Arrow record batches in the JVM
        (``Dataset.toArrowBatchRdd``: the ``ArrowConverters`` path behind
        ``toArrow``, ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
        per batch).  ``PythonRDD.toLocalIteratorAndServe`` runs one job per
        partition as the consumer asks for it, prefetching the next, and
        serves each partition's IPC messages over a local socket
        (``pyspark.util._local_iterator_from_socket``).  Each message is
        decoded against :func:`~.datatypes.result_arrow_schema` and sliced
        to at most ``batch_size`` rows without copying.  No Python worker
        runs and no per-row Python object is built; peak driver memory is
        one prefetched partition of Arrow bytes.

        ``toArrowBatchRdd`` and ``_local_iterator_from_socket`` are not
        public pyspark API (checked against pyspark 4.1.2)."""
        from pyspark.serializers import NoOpSerializer
        from pyspark.util import _local_iterator_from_socket

        size = int(batch_size)
        if size <= 0:
            raise BallistaError(f"batch_size must be positive, got {batch_size}")
        schema = result_arrow_schema(self.df)
        sc = self.df.sparkSession.sparkContext
        # name the stream's jobs after the JVM entry point that runs them;
        # the serving thread inherits the call site when it is created
        previous = sc.getLocalProperty("callSite.short")
        sc._jsc.setCallSite("toLocalIteratorAndServe at collect_stream")
        try:
            rdd = self.df._jdf.toArrowBatchRdd()
            sock_info = sc._jvm.PythonRDD.toLocalIteratorAndServe(rdd, True)
        finally:
            sc._jsc.setCallSite(previous)
        for message in _local_iterator_from_socket(sock_info, NoOpSerializer()):
            batch = pa.ipc.read_record_batch(pa.py_buffer(message), schema)
            for start in range(0, batch.num_rows, size):
                yield batch.slice(start, size)

    def show(self, num: int = 20) -> None:
        """Pretty-print first ``num`` rows (src/dataframe.rs:124-130)."""
        self.df.show(num)

    def count(self) -> int:
        return self.df.count()

    def to_spark(self) -> SparkDataFrame:
        """Escape hatch to the wrapped pyspark DataFrame."""
        return self.df

    def write_parquet(self, path: str, mode: str = "error") -> None:
        """File sink (extension; reference binds no writers, SURVEY §2.1)."""
        self.df.write.mode(mode).parquet(path)

    def write_csv(self, path: str, mode: str = "error", header: bool = True) -> None:
        self.df.write.mode(mode).option("header", header).csv(path)

    def write_json(self, path: str, mode: str = "error") -> None:
        self.df.write.mode(mode).json(path)

    def write_orc(self, path: str, mode: str = "error") -> None:
        self.df.write.mode(mode).orc(path)

    def cache(self) -> "DataFrame":
        return DataFrame(self.df.cache())

    def __repr__(self) -> str:
        return f"DataFrame[{', '.join(f'{f.name}: {f.dataType.simpleString()}' for f in self.df.schema.fields)}]"
