"""Mimics the driver's t2 correctness gate: run each corpus query on Spark
and its oracle on DuckDB over the same parquet, compare row count, column
names and (order-insensitively) values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(_canon_obj)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), key=lambda s: s.map(repr)).reset_index(drop=True)
    return df


def _canon_obj(v):
    import numpy as np

    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_obj(x) for x in v)
    if isinstance(v, float):
        return v
    return v


def _type_class(s: pd.Series) -> str:
    """Coarse type class matching the driver's type-sensitive hash: an int
    column vs a float column mismatches at the driver even when every value
    compares equal numerically (seen round 4: oracle SIGN()=TINYINT vs Spark
    signum=DOUBLE). Decimal objects count as float (both engines surface
    exact decimals through a numeric path the driver accepts)."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if s.dtype == object:
        import datetime
        import decimal

        for v in s:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, decimal.Decimal):
                return "float"
            if isinstance(v, (datetime.date, datetime.datetime)):
                # Spark DateType -> object(date) vs DuckDB DATE ->
                # datetime64: the driver accepts this pairing (green in r4)
                return "datetime"
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                return "float"
            return "other"
        return "null"
    return "other"


def compare(spark_df, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    spk_raw = spark_df.toPandas()
    # Type-class gate BEFORE canonicalization (which folds int8->int64 and
    # compares int-vs-float numerically, hiding driver-level hash mismatches).
    for c in sorted(set(spk_raw.columns) & set(oracle_pdf.columns)):
        ca, cb = _type_class(spk_raw[c]), _type_class(oracle_pdf[c])
        if "null" in (ca, cb):
            continue
        if ca != cb:
            return False, (
                f"type-class differs for col {c}: spark={ca}({spk_raw[c].dtype}) "
                f"oracle={cb}({oracle_pdf[c].dtype}) — driver hash would diverge"
            )
    spk = canonicalize(spk_raw)
    ora = canonicalize(oracle_pdf)
    if list(spk.columns) != list(ora.columns):
        return False, f"columns differ: spark={list(spk.columns)} oracle={list(ora.columns)}"
    if len(spk) != len(ora):
        return False, f"row count differs: spark={len(spk)} oracle={len(ora)}"
    for c in spk.columns:
        a, b = spk[c], ora[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            mism = ~((a == b) | (a.isna() & b.isna()))
            if mism.any():
                i = mism.idxmax()
                return False, f"float col {c} differs at row {i}: {a[i]!r} vs {b[i]!r} (exact compare)"
            # Sign-bit strictness (r9 verdict task #2): the driver's value
            # hash is bit-level, so -0.0 vs +0.0 mismatches there while
            # IEEE `==` calls them equal — the blindness that let the
            # dq_mad_outlier_gate red streak replay MATCH locally for two
            # rounds.  Compare sign bits wherever both values are non-NaN.
            import numpy as np

            av, bv = a.to_numpy(dtype="float64"), b.to_numpy(dtype="float64")
            ok_rows = ~(np.isnan(av) | np.isnan(bv))
            sb = ok_rows & (np.signbit(av) != np.signbit(bv))
            if sb.any():
                i = int(np.argmax(sb))
                return False, (
                    f"float col {c} sign-bit differs at row {i}: "
                    f"{av[i]!r} vs {bv[i]!r} — driver hash would diverge"
                )
        else:
            eq = (a == b) | (a.isna() & b.isna()) if hasattr(a, "isna") else (a == b)
            if not eq.all():
                i = (~eq).idxmax()
                return False, f"col {c} differs at row {i}: {a[i]!r} vs {b[i]!r}"
            # sign bits inside NESTED or MIXED-dtype values: array columns
            # arrive as tuples, and a float64 side paired with an object
            # side (e.g. DuckDB DECIMAL -> Decimal objects) skips the
            # numpy branch above — the walk must run for ANY pair this
            # branch sees, not only object-vs-object (r10 review finding)
            for i, (x, y) in enumerate(zip(a, b)):
                if _nested_signbit_mismatch(x, y):
                    return False, (
                        f"col {c} nested sign-bit differs at row {i}: "
                        f"{x!r} vs {y!r} — driver hash would diverge"
                    )
    return True, "ok"


def _nested_signbit_mismatch(x, y) -> bool:
    """True when two ==-equal values differ in a zero's sign bit anywhere
    inside (floats — incl. numpy float32/float64, which does NOT subclass
    Python float — or tuples thereof, the _canon_obj shapes)."""
    import decimal

    import numpy as np

    flt = (float, np.floating, decimal.Decimal)
    if isinstance(x, tuple) and isinstance(y, tuple) and len(x) == len(y):
        return any(_nested_signbit_mismatch(p, q) for p, q in zip(x, y))
    if isinstance(x, flt) and isinstance(y, flt) and x == 0 and y == 0:
        # float(Decimal("-0")) is -0.0, so one conversion covers all three
        return math.copysign(1.0, float(x)) != math.copysign(1.0, float(y))
    return False


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, str]:
    # the caller's sys.path decides which checkout's corpus runs
    # (tools/replay_oracle.py puts its own repo root first)
    from __spark_entry__ import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb_con(sf_dir)
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                opdf = con.sql(oracles[name]).df()
                ok, msg = compare(sdf, opdf)
                results[name] = "MATCH" if ok else f"MISMATCH: {msg}"
            else:
                n = sdf.count()
                results[name] = f"ROWS_ONLY: {n}"
        except Exception as e:
            results[name] = f"ERROR: {type(e).__name__}: {str(e)[:300]}"
    return results
