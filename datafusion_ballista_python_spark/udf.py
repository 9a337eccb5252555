"""Scalar Python UDFs with the reference's pyarrow contract.

Reference (``src/udf.rs:33-95``, ``ballista/__init__.py:81-95``): the user
function receives **pyarrow Arrays** (vectorized) and returns a pyarrow
Array; signature ``udf(func, input_types, return_type, volatility, name)``.

Implementation: a PySpark ``arrow_udf`` (pyspark >= 4.1) — data crosses the
JVM/Python boundary as Arrow batches (~10-100x faster than row-at-a-time
python UDFs) and reaches the function as pyarrow Arrays with no pandas
step, so float NaN and NULL stay distinct as in the reference.
``volatility='volatile'`` maps to ``asNondeterministic()`` so Catalyst
won't collapse duplicate calls.

Note the reference binds these but Ballista could not execute them
distributed (``docs/source/user-guide/python.md:137-138``); ours execute on
executors for real.
"""

from __future__ import annotations

import warnings
from abc import ABCMeta, abstractmethod
from typing import Callable, List, Optional

import pyarrow as pa
from pyspark.sql import functions as F

from .datatypes import arrow_to_spark
from .errors import BallistaError
from .expression import Expression, to_column

_VOLATILITIES = ("immutable", "stable", "volatile")


class ScalarUDF:
    """Callable scalar UDF: ``my_udf(col('a'), ...)`` -> Expression."""

    def __init__(
        self,
        func: Callable,
        input_types: List[pa.DataType],
        return_type: pa.DataType,
        volatility: str = "immutable",
        name: Optional[str] = None,
    ):
        if volatility not in _VOLATILITIES:
            raise BallistaError(
                f"invalid volatility {volatility!r}; expected one of {_VOLATILITIES}"
            )
        self.name = name or getattr(func, "__name__", "udf")
        self.input_types = list(input_types)
        self.return_type = return_type
        self.volatility = volatility
        self._func = func

        in_types = self.input_types

        def _arrow_vectorized(*arrays):
            cast = [
                a.cast(t) if a.type != t else a
                for a, t in zip(arrays, in_types)
            ]
            out = func(*cast)
            if isinstance(out, pa.ChunkedArray):
                out = out.combine_chunks()
            if not isinstance(out, pa.Array):
                out = pa.array(out, type=return_type)
            elif out.type != return_type:
                out = out.cast(return_type)
            return out

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            pudf = F.arrow_udf(
                _arrow_vectorized, returnType=arrow_to_spark(return_type)
            )
        if volatility == "volatile":
            pudf = pudf.asNondeterministic()
        self._pudf = pudf

    def __call__(self, *args) -> Expression:
        if len(args) != len(self.input_types):
            raise BallistaError(
                f"udf {self.name!r} expects {len(self.input_types)} args, got {len(args)}"
            )
        return Expression(self._pudf(*[to_column(a) for a in args]))


def udf(
    func: Callable,
    input_types: List[pa.DataType],
    return_type: pa.DataType,
    volatility: str = "immutable",
    name: Optional[str] = None,
) -> ScalarUDF:
    """Create a vectorized scalar UDF (reference ``ballista/__init__.py:81-95``)."""
    return ScalarUDF(func, input_types, return_type, volatility, name)


class Accumulator(metaclass=ABCMeta):
    """Aggregate-UDF accumulator protocol (reference ``ballista/__init__.py:47-62``)."""

    @abstractmethod
    def state(self) -> List[pa.Scalar]:
        """Current partial state as a list of pyarrow scalars."""

    @abstractmethod
    def update(self, values: pa.Array) -> None:
        """Fold a batch of input values into the state."""

    @abstractmethod
    def merge(self, states: List[pa.Array]) -> None:
        """Fold partial states (one array per state field) into this state."""

    @abstractmethod
    def evaluate(self) -> pa.Scalar:
        """Final result from the state."""
