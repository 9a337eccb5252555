"""oracle_harness.compare must be exactly as strict as the driver's
bit-level value hash.  The r7-r9 dq_mad_outlier_gate red streak survived
two rounds of local replays because IEEE ``==`` calls -0.0 and +0.0
equal while the driver's hash does not (VERDICT r9 task #2) — these
tests pin the sign-bit discrimination so the blindness cannot return.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys

import pandas as pd

from .oracle_harness import compare


def _spark_df(spark, values):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, z double"
    )


def _oracle_pdf(values):
    return pd.DataFrame(
        {"id": range(len(values)), "z": [float(v) for v in values]}
    ).astype({"id": "int64", "z": "float64"})


def test_negative_zero_vs_positive_zero_mismatches(spark):
    # the exact r9 driver failure shape: equal under ==, hash-divergent
    ok, msg = compare(_spark_df(spark, [-0.0, 1.5]), _oracle_pdf([0.0, 1.5]))
    assert not ok and "sign-bit" in msg, msg


def test_positive_zero_both_sides_matches(spark):
    ok, msg = compare(_spark_df(spark, [0.0, -2.5]), _oracle_pdf([0.0, -2.5]))
    assert ok, msg


def test_negative_zero_both_sides_matches(spark):
    # strictness is about AGREEMENT of bits, not banning -0.0 outright
    ok, msg = compare(_spark_df(spark, [-0.0]), _oracle_pdf([-0.0]))
    assert ok, msg


def test_nan_pairs_do_not_false_positive(spark):
    # signbit(NaN) is unspecified across producers; NaN==NaN rows go
    # through the isna branch and must stay MATCH
    ok, msg = compare(
        _spark_df(spark, [math.nan, 1.0]), _oracle_pdf([math.nan, 1.0])
    )
    assert ok, msg


def test_plain_value_divergence_still_caught(spark):
    ok, msg = compare(_spark_df(spark, [1.0]), _oracle_pdf([2.0]))
    assert not ok and "differs" in msg, msg


def test_nested_negative_zero_in_array_column_mismatches(spark):
    # -0.0 INSIDE an array<double> column: tuple == is sign-blind too
    sdf = spark.createDataFrame([([-0.0, 1.0],)], "v array<double>")
    opdf = pd.DataFrame({"v": [[0.0, 1.0]]})
    ok, msg = compare(sdf, opdf)
    assert not ok and "nested sign-bit" in msg, msg


def test_nested_arrays_equal_bits_match(spark):
    sdf = spark.createDataFrame([([0.0, -1.5],)], "v array<double>")
    opdf = pd.DataFrame({"v": [[0.0, -1.5]]})
    ok, msg = compare(sdf, opdf)
    assert ok, msg


def test_run_all_imports_the_callers_entry_module(tmp_path):
    """run_all must import whichever ``__spark_entry__`` leads the
    caller's sys.path — a replay from another checkout certifies that
    checkout's corpus, not a fixed path's."""
    from .conftest import SF_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stub = tmp_path / "stub"
    stub.mkdir()
    (stub / "__spark_entry__.py").write_text(
        "def queries():\n    return {}\n\n\ndef oracle_sql():\n    return {}\n"
    )
    script = (
        "import sys\n"
        f"sys.path[:0] = [{str(stub)!r}, {repo!r}]\n"
        "from tests.oracle_harness import run_all\n"
        f"assert run_all(None, {SF_DIR!r}, only=[]) == {{}}\n"
        "print(sys.modules['__spark_entry__'].__file__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == str(stub / "__spark_entry__.py")
