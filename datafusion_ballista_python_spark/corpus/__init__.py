"""Query corpus: every SURVEY §2 operator as a (spark_query, oracle_sql) pair.

The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables and compares
row-count + schema + order-insensitive value hashes (the t2 correctness
gate, BASELINE.md).  Registration happens via the :func:`query` decorator;
``__spark_entry__.py`` just re-exports the registry.

Cross-engine determinism rules used throughout (see corpus/util.py):
- SUM/AVG over doubles goes through DECIMAL(25,6) so the result is exact
  and order-independent (bit-identical across engines) — floating sums
  would differ in final ulps between engines/partition orders;
- integer aggregates are cast to BIGINT on both sides (DuckDB's SUM(int)
  returns HUGEINT, Spark returns LONG);
- libm-dependent functions (exp/ln/trig) are rounded to 6 decimals;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional


@dataclass
class QuerySpec:
    name: str
    fn: Callable  # (SparkSession, sf_dir) -> pyspark DataFrame
    oracle: Optional[str]  # ANSI SQL for DuckDB, or None -> rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None):
    """Register a corpus query (decorator).  A name registers once: a
    second entry under it would silently shadow the first."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"corpus query {name!r} is already registered")
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def entry_fingerprint(spec: QuerySpec) -> str:
    """Content fingerprint of a corpus entry: sha256 over its oracle SQL
    plus its query function's source.  The rotation in
    ``__spark_entry__.py`` compares this against the fingerprint recorded
    when the entry's last green driver row certified it
    (``tools/oracle_ledger.json``): any edit to the oracle or the corpus
    function auto-queues the entry for re-certification — replacing the
    round-6 hand-maintained changed list, which depended on the builder
    remembering every semantics-changing fix (r6 verdict item #5).
    Operator-internal changes below the corpus function are the one class
    this cannot see; those go in ``_MANUAL_CHANGED``."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(spec.fn)
    except (OSError, TypeError):  # builtins / REPL-defined fns have no source
        src = repr(spec.fn)
    return hashlib.sha256(
        ((spec.oracle or "") + "\n\x00\n" + src).encode()
    ).hexdigest()


def load_all() -> dict[str, QuerySpec]:
    """Import all corpus modules and return the populated registry."""
    from . import curation, extras, llm, multimodal, physical, pipelines, relational, scalar_fns, streams, tpch_extra, training  # noqa: F401

    return REGISTRY
