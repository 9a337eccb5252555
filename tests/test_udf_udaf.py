"""UDF/UDAF roundtrip tests (SURVEY §5 item 4): pyarrow-in/pyarrow-out
scalar contract (src/udf.rs:36-60) and the Accumulator state/update/merge/
evaluate protocol (ballista/__init__.py:47-62) executed distributed."""

import math

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from ballista import Accumulator, BallistaError, col, udaf, udf
import ballista.functions as f


def test_scalar_udf_pyarrow_contract(ctx, sf_dir):
    seen_types = []

    def plus_one(arr):
        seen_types.append(type(arr))
        return pc.add(arr, 1)

    u = udf(plus_one, [pa.float64()], pa.float64(), "immutable", name="plus_one")
    li = ctx.read_parquet(f"{sf_dir}/lineitem.parquet").limit(10)
    out = pa.Table.from_batches(li.select(u(col("l_quantity")).alias("q1")).collect())
    assert out.num_rows == 10
    # vectorized: the function received pyarrow Arrays, not scalars
    assert all(issubclass(t, pa.Array) for t in seen_types)


def test_scalar_udf_two_args(ctx, sf_dir):
    def hypot(a, b):
        return pc.sqrt(pc.add(pc.multiply(a, a), pc.multiply(b, b)))

    u = udf(hypot, [pa.float64(), pa.float64()], pa.float64())
    li = ctx.read_parquet(f"{sf_dir}/lineitem.parquet").limit(5)
    out = pa.Table.from_batches(
        li.select(col("l_quantity"), col("l_tax"), u(col("l_quantity"), col("l_tax")).alias("h")).collect()
    )
    for q, t, h in zip(*[out.column(c).to_pylist() for c in ["l_quantity", "l_tax", "h"]]):
        assert h == pytest.approx(math.hypot(q, t))


def test_scalar_udf_arity_error(ctx):
    u = udf(lambda a: a, [pa.int64()], pa.int64())
    with pytest.raises(BallistaError, match="expects 1 args"):
        u(col("x"), col("y"))


def test_scalar_udf_bad_volatility():
    with pytest.raises(BallistaError, match="invalid volatility"):
        udf(lambda a: a, [pa.int64()], pa.int64(), volatility="sometimes")


def test_udf_volatile_nondeterministic(ctx):
    u = udf(lambda a: a, [pa.int64()], pa.int64(), volatility="volatile")
    # marker survives into the plan; smoke-check it composes
    assert u._pudf is not None


class SumAcc(Accumulator):
    """Reference docstring example: simple sum accumulator."""

    def __init__(self):
        self.total = 0.0

    def state(self):
        return [pa.scalar(self.total)]

    def update(self, values):
        self.total += pc.sum(values).as_py() or 0.0

    def merge(self, states):
        self.total += sum(v.as_py() or 0.0 for v in states[0])

    def evaluate(self):
        return pa.scalar(self.total, type=pa.float64())


def test_udaf_grouped_matches_builtin(ctx, sf_dir):
    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    li = ctx.read_parquet(f"{sf_dir}/lineitem.parquet")
    ours = pa.Table.from_batches(
        li.aggregate([col("l_returnflag")], [s(col("l_quantity")).alias("s")]).collect()
    ).sort_by("l_returnflag")
    builtin = pa.Table.from_batches(
        li.aggregate([col("l_returnflag")], [f.sum(col("l_quantity")).alias("s")]).collect()
    ).sort_by("l_returnflag")
    for a, b in zip(ours.column("s").to_pylist(), builtin.column("s").to_pylist()):
        assert a == pytest.approx(b, rel=1e-9)


def test_udaf_global_no_groups(ctx, sf_dir):
    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    li = ctx.read_parquet(f"{sf_dir}/lineitem.parquet")
    out = pa.Table.from_batches(li.aggregate([], [s(col("l_quantity")).alias("s")]).collect())
    assert out.column("s").to_pylist()[0] == pytest.approx(
        pa.Table.from_batches(li.aggregate([], [f.sum(col("l_quantity")).alias("s")]).collect())
        .column("s").to_pylist()[0],
        rel=1e-9,
    )


def test_udaf_mixed_with_plain_aggs(ctx, sf_dir):
    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    li = ctx.read_parquet(f"{sf_dir}/lineitem.parquet")
    out = pa.Table.from_batches(
        li.aggregate(
            [col("l_returnflag")],
            [s(col("l_quantity")).alias("s"), f.count_star().alias("n")],
        ).collect()
    ).sort_by("l_returnflag")
    assert out.num_rows == 3
    assert sum(out.column("n").to_pylist()) == 6000


def test_udaf_multi_state(ctx, sf_dir):
    """Mean via (sum, count) state — exercises multi-field state merge."""

    class MeanAcc(Accumulator):
        def __init__(self):
            self.s = 0.0
            self.n = 0

        def state(self):
            return [pa.scalar(self.s), pa.scalar(self.n)]

        def update(self, values):
            self.s += pc.sum(values).as_py() or 0.0
            self.n += len(values) - values.null_count

        def merge(self, states):
            self.s += sum(v.as_py() or 0.0 for v in states[0])
            self.n += sum(v.as_py() or 0 for v in states[1])

        def evaluate(self):
            return pa.scalar(self.s / self.n if self.n else None, type=pa.float64())

    m = udaf(MeanAcc, pa.float64(), pa.float64(), [pa.float64(), pa.int64()])
    li = ctx.read_parquet(f"{sf_dir}/lineitem.parquet")
    ours = pa.Table.from_batches(
        li.aggregate([col("l_linestatus")], [m(col("l_discount")).alias("m")]).collect()
    ).sort_by("l_linestatus")
    builtin = pa.Table.from_batches(
        li.aggregate([col("l_linestatus")], [f.avg(col("l_discount")).alias("m")]).collect()
    ).sort_by("l_linestatus")
    for a, b in zip(ours.column("m").to_pylist(), builtin.column("m").to_pylist()):
        assert a == pytest.approx(b, rel=1e-9)


def test_udaf_high_cardinality_flushes_bounded(ctx, monkeypatch):
    """Phase-1 memory bound: with >= 10^5 distinct keys per partition and a
    tiny flush threshold, the partial stage emits many state rows per task
    instead of one dict over the whole partition, and phase-2 merge still
    produces exact sums (keys recur across flushes, so a wrong merge or a
    dropped flush shows up as a wrong total)."""
    import importlib

    udaf_mod = importlib.import_module("datafusion_ballista_python_spark.udaf")
    from datafusion_ballista_python_spark.dataframe import DataFrame

    monkeypatch.setattr(udaf_mod, "PARTIAL_FLUSH_KEYS", 1000)

    spark = ctx.spark
    n, groups = 200_000, 100_000
    sdf = spark.range(n, numPartitions=4).selectExpr(
        "CAST(id % 100000 AS DOUBLE) AS k", "CAST(id AS DOUBLE) AS v"
    )
    df = DataFrame(sdf)
    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    out = pa.Table.from_batches(
        df.aggregate([col("k")], [s(col("v")).alias("s")]).collect()
    )
    assert out.num_rows == groups
    # every key k gets id=k and id=k+100000 -> sum = 2k + 100000
    got = dict(zip(out.column("k").to_pylist(), out.column("s").to_pylist()))
    for k in (0.0, 1.0, 12345.0, 99999.0):
        assert got[k] == pytest.approx(2 * k + 100_000)
    assert sum(got.values()) == pytest.approx(n * (n - 1) / 2)


# -- UDTF (extension; reference has none — SURVEY §2.11) -------------------

def test_udtf_split_words(spark):
    from pyspark.sql import functions as F
    from datafusion_ballista_python_spark.udtf import udtf, register_udtf

    @udtf(returnType="word string, n int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split()):
                yield (w, i)

    rows = SplitWords(F.lit("alpha beta gamma")).collect()
    assert [(r["word"], r["n"]) for r in rows] == [("alpha", 0), ("beta", 1), ("gamma", 2)]

    register_udtf(spark, SplitWords, "split_words")
    got = spark.sql("SELECT word FROM split_words('x y') ORDER BY n").collect()
    assert [r["word"] for r in got] == ["x", "y"]


def test_udtf_requires_return_type():
    from datafusion_ballista_python_spark.errors import BallistaError
    from datafusion_ballista_python_spark.udtf import udtf

    with pytest.raises(BallistaError):
        @udtf
        class Bad:
            def eval(self):
                yield (1,)


def test_udaf_null_integer_state_survives_shuffle(ctx):
    """A group whose partition saw only nulls carries a None state through
    phase 1; the phase-2 rebuild must map pandas NaN back to an Arrow null
    (integer state would otherwise raise ArrowInvalid, float state would
    silently turn NaN and corrupt min/max-style accumulators)."""

    class MinAcc(Accumulator):
        def __init__(self):
            self.m = None

        def state(self):
            return [pa.scalar(self.m, type=pa.int64())]

        def update(self, values):
            v = pc.min(values).as_py()
            if v is not None:
                self.m = v if self.m is None else min(self.m, v)

        def merge(self, states):
            for s in states[0]:
                v = s.as_py()
                if v is not None:
                    self.m = v if self.m is None else min(self.m, v)

        def evaluate(self):
            return pa.scalar(self.m, type=pa.int64())

    batch = pa.RecordBatch.from_pydict(
        {
            "g": ["a"] * 4 + ["b"] * 4,
            "v": [None, None, None, None, 7, None, 3, None],
        },
        schema=pa.schema([("g", pa.string()), ("v", pa.int64())]),
    )
    df = ctx.create_dataframe([[batch]])
    # several partitions => group 'a' contributes all-null (None-state)
    # partials into the shuffle
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    df = BDF(df.to_spark().repartition(4))
    m = udaf(MinAcc, pa.int64(), pa.int64(), [pa.int64()])
    out = pa.Table.from_batches(
        df.aggregate([col("g")], [m(col("v")).alias("m")]).collect()
    ).sort_by("g")
    assert out.column("g").to_pylist() == ["a", "b"]
    assert out.column("m").to_pylist() == [None, 3]


def test_udaf_nan_float_state_distinct_from_null(ctx):
    """A float state that legitimately holds NaN must arrive in merge()
    as NaN, while a null state arrives as None — the explicit validity
    flag distinguishes them across the pandas shuffle (previously NaN
    collapsed to null and poison semantics were silently lost)."""

    class PoisonSum(Accumulator):
        """Sum that poisons to NaN if ANY input value is null."""

        def __init__(self):
            self.s = 0.0
            self.seen = False

        def state(self):
            # None state = no data seen; NaN state = poisoned
            return [pa.scalar(self.s if self.seen else None, type=pa.float64())]

        def update(self, values):
            if len(values):
                self.seen = True
                if values.null_count:
                    self.s = float("nan")
                else:
                    self.s += pc.sum(values).as_py() or 0.0

        def merge(self, states):
            for s in states[0]:
                v = s.as_py()
                if v is None:
                    continue  # empty partial
                self.seen = True
                self.s += v  # NaN propagates

        def evaluate(self):
            return pa.scalar(self.s if self.seen else None, type=pa.float64())

    batch = pa.RecordBatch.from_pydict(
        {
            "g": ["a"] * 3 + ["b"] * 3,
            "v": [1.0, None, 2.0, 1.5, 2.5, 3.0],
        },
        schema=pa.schema([("g", pa.string()), ("v", pa.float64())]),
    )
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    df = BDF(ctx.create_dataframe([[batch]]).to_spark().repartition(3))
    agg = udaf(PoisonSum, pa.float64(), pa.float64(), [pa.float64()])
    out = pa.Table.from_batches(
        df.aggregate([col("g")], [agg(col("v")).alias("s")]).collect()
    ).sort_by("g")
    res = dict(zip(out.column("g").to_pylist(), out.column("s").to_pylist()))
    assert res["a"] != res["a"]  # NaN: group a saw a null input -> poisoned
    assert res["b"] == pytest.approx(7.0)


def test_scalar_udf_nan_vs_null_inputs_distinct(ctx):
    """The reference's pyarrow contract: float NaN and NULL are DISTINCT
    inputs (a pandas boundary would fold NaN into null)."""
    import math

    def classify(arr):
        return pa.array(
            [
                "null" if not v.is_valid
                else ("nan" if math.isnan(v.as_py()) else "num")
                for v in arr
            ],
            type=pa.string(),
        )

    u = udf(classify, [pa.float64()], pa.string(), name="classify")
    df = ctx.spark.createDataFrame(
        [(1, 1.5), (2, float("nan")), (3, None)], "i long, x double"
    )
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    out = pa.Table.from_batches(
        BDF(df).select(col("i"), u(col("x")).alias("c")).sort(col("i").sort()).collect()
    )
    assert out.column("c").to_pylist() == ["num", "nan", "null"]


def test_scalar_udf_is_nan_keeps_null_distinct(ctx):
    """An Arrow compute kernel on the udf's input sees NaN as a value and
    NULL as missing: ``pc.is_nan`` gives True for NaN and propagates NULL,
    so a null input that arrived as NaN would read True here."""
    u = udf(lambda a: pc.is_nan(a), [pa.float64()], pa.bool_(), name="is_nan")
    df = ctx.spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, None)], "i long, x double"
    )
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    out = pa.Table.from_batches(
        BDF(df).select(col("i"), u(col("x")).alias("n")).sort(col("i").sort()).collect()
    )
    assert out.column("n").to_pylist() == [False, True, None]


def test_udaf_null_key_group_survives_mixed_plain_aggs(ctx):
    """A NULL group key must survive the UDAF + plain-agg combination:
    the old null-unsafe join dropped the NULL-key group entirely."""
    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    df = ctx.spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 10.0), (None, 20.0)],
        "k string, v double",
    )
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    out = pa.Table.from_batches(
        BDF(df).aggregate(
            [col("k")], [s(col("v")).alias("s"), f.count_star().alias("n")]
        ).collect()
    )
    rows = {r["k"]: (r["s"], r["n"]) for r in out.to_pylist()}
    assert rows["a"] == (3.0, 2)
    assert rows[None] == (30.0, 2)


def test_udaf_nan_float_group_key_distinct_from_null(ctx):
    """Spark/DataFusion group NaN and NULL keys separately; the pandas
    crossing folded a NaN double key into the NULL group (both are NaN in
    pandas).  Float keys now cross as strings and decode back exactly."""
    import math

    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    df = ctx.spark.createDataFrame(
        [(1.5, 1.0), (float("nan"), 2.0), (None, 4.0), (float("nan"), 8.0)],
        "k double, v double",
    )
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    out = pa.Table.from_batches(
        BDF(df).aggregate([col("k")], [s(col("v")).alias("s")]).collect()
    ).to_pylist()
    by_kind = {}
    for r in out:
        kind = ("null" if r["k"] is None
                else "nan" if math.isnan(r["k"]) else "num")
        assert kind not in by_kind, f"duplicate {kind} group"
        by_kind[kind] = r["s"]
    assert by_kind == {"num": 1.0, "nan": 10.0, "null": 4.0}
    # mixed with plain aggs: same three groups, null-safe join keeps all
    out2 = pa.Table.from_batches(
        BDF(df).aggregate(
            [col("k")], [s(col("v")).alias("s"), f.count_star().alias("n")]
        ).collect()
    ).to_pylist()
    assert len(out2) == 3
    assert sorted(r["n"] for r in out2) == [1, 1, 2]


def test_udaf_negative_zero_key_groups_with_positive_zero(ctx):
    """IEEE -0.0 == 0.0, and Spark/DataFusion grouping normalizes them
    into ONE group — but the string crossing for float keys would render
    '-0.0' vs '0.0' as two groups without the pre-cast normalization
    (advisor finding r6)."""
    s = udaf(SumAcc, pa.float64(), pa.float64(), [pa.float64()])
    df = ctx.spark.createDataFrame(
        [(0.0, 1.0), (-0.0, 2.0), (3.0, 4.0)], "k double, v double"
    )
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    out = pa.Table.from_batches(
        BDF(df).aggregate([col("k")], [s(col("v")).alias("s")]).collect()
    ).to_pylist()
    assert len(out) == 2, f"-0.0 and 0.0 split into separate groups: {out}"
    zero = next(r for r in out if r["k"] == 0.0)
    assert zero["s"] == 3.0  # both zero rows merged


def test_register_udtf_uses_stamped_name(spark):
    """register_udtf without an explicit name must use the __udtf_name__
    stamped by udtf() — the old eager fn.__name__ default raised
    AttributeError for every nameless call."""
    from datafusion_ballista_python_spark.udtf import register_udtf, udtf as u_

    @u_(returnType="w string")
    class EchoWord:
        def eval(self, text: str):
            yield (text,)

    register_udtf(spark, EchoWord)  # no name: must resolve __udtf_name__
    got = spark.sql("SELECT * FROM EchoWord('hi')").collect()
    assert [r["w"] for r in got] == ["hi"]
