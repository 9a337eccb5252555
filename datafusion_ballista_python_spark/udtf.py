"""Table functions (UDTF) — an extension beyond the reference, which has no
UDTF surface at all (SURVEY §2.11: "UDTF: absent").

Wraps PySpark's native Python UDTFs (arrow-optimized where possible) behind
the same registration style as ``udf``/``udaf``: pass a class with an
``eval`` generator, get a callable usable in ``select``/``lateral view``
and registrable for SQL.

Scale: UDTF rows stream out of the same task that consumed the input row —
no extra shuffle; Python crossing is Arrow-batched when
``useArrow`` is available.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql.functions import udtf as spark_udtf

from .errors import BallistaError


def udtf(cls=None, *, returnType: Optional[str] = None, name: Optional[str] = None):
    """Create a user-defined table function from a class with ``eval``.

    Usage::

        @udtf(returnType="word string, n int")
        class SplitWords:
            def eval(self, text: str):
                for i, w in enumerate(text.split()):
                    yield (w, i)

        ctx.register_udtf(SplitWords)          # SQL: SELECT * FROM SplitWords('a b')
        SplitWords(lit("a b")).show()          # DataFrame API
    """
    if returnType is None:
        raise BallistaError("udtf requires returnType (e.g. \"word string, n int\")")

    def wrap(c):
        out = spark_udtf(c, returnType=returnType)
        out.__udtf_name__ = name or c.__name__
        return out

    return wrap(cls) if cls is not None else wrap


def register_udtf(spark, fn, name: Optional[str] = None) -> None:
    """Register a udtf for SQL use: ``SELECT * FROM name(...)``.

    Name resolution: explicit ``name`` > the ``__udtf_name__`` stamped by
    :func:`udtf` > the function's ``__name__``.  (The old eager
    ``fn.__name__`` default raised AttributeError for EVERY nameless call
    — pyspark's UserDefinedTableFunction has no ``__name__``, and the
    eager default evaluated before getattr could fall back.)"""
    resolved = (
        name
        or getattr(fn, "__udtf_name__", None)
        or getattr(fn, "__name__", None)
    )
    if not resolved:
        raise BallistaError(
            "register_udtf needs a name: pass name=... or register a "
            "udtf()-wrapped class (which carries __udtf_name__)"
        )
    spark.udtf.register(resolved, fn)
