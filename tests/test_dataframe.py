"""DataFrame API behavior: joins (incl. errors), indexing, schema, set ops,
explain, collect contract (SURVEY §2.2-2.8)."""

import pyarrow as pa
import pytest

from ballista import BallistaError, col, lit
import ballista.functions as f


@pytest.fixture(scope="module")
def li(ctx, sf_dir):
    return ctx.read_parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(ctx, sf_dir):
    return ctx.read_parquet(f"{sf_dir}/orders.parquet")


def test_getitem_str_returns_expression(li):
    from ballista import Expression

    assert isinstance(li["l_orderkey"], Expression)


def test_getitem_list_projects(li):
    sub = li[["l_orderkey", "l_quantity"]]
    assert [fld.name for fld in sub.schema()] == ["l_orderkey", "l_quantity"]


def test_getitem_tuple_projects(li):
    sub = li["l_orderkey", "l_quantity"]
    assert len(sub.schema()) == 2


def test_getitem_bad_key_raises(li):
    with pytest.raises(BallistaError):
        li[42]


def test_schema_is_pyarrow(li):
    s = li.schema()
    assert isinstance(s, pa.Schema)
    assert s.field("l_orderkey").type == pa.int64()
    assert s.field("l_returnflag").type == pa.string()


def test_all_join_types_run(li, orders):
    for how in ["inner", "left", "right", "full", "semi", "anti", "right_semi"]:
        j = li.limit(100).join(orders.limit(100), (["l_orderkey"], ["o_orderkey"]), how)
        assert j.count() >= 0


def test_unknown_join_type_message(li, orders):
    with pytest.raises(BallistaError, match="unsupported join type 'sideways'"):
        li.join(orders, (["l_orderkey"], ["o_orderkey"]), "sideways")


def test_join_key_length_mismatch(li, orders):
    with pytest.raises(BallistaError, match="equal length"):
        li.join(orders, (["l_orderkey"], []), "inner")


def test_semi_join_no_right_columns(li, orders):
    j = orders.join(li, (["o_orderkey"], ["l_orderkey"]), "semi")
    assert all(name.startswith("o_") for name in [fld.name for fld in j.schema()])


def test_limit_and_count(li):
    assert li.limit(17).count() == 17


def test_collect_returns_record_batches(li):
    batches = li.limit(5).collect()
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sum(b.num_rows for b in batches) == 5


def test_collect_stream_batches(li):
    total = 0
    for b in li.limit(100).collect_stream(batch_size=30):
        assert isinstance(b, pa.RecordBatch)
        assert b.num_rows <= 30
        total += b.num_rows
    assert total == 100


def test_collect_stream_matches_collect_values(li):
    sub = li.limit(50).select(col("l_orderkey"), col("l_quantity"))
    streamed = pa.Table.from_batches(list(sub.collect_stream(batch_size=7)))
    collected = pa.Table.from_batches(sub.collect())
    assert streamed.sort_by("l_orderkey").equals(
        collected.sort_by("l_orderkey").cast(streamed.schema)
    )


def _run_in_job_group(sc, fn):
    """``fn()`` with its Spark jobs tagged; returns (result, job ids)."""
    import uuid

    group = f"collect-stream-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect_stream test")
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    return result, sc.statusTracker().getJobIdsForGroup(group)


def _stage_operator_graphs(sc, job_ids):
    """DOT text of every stage of ``job_ids``: one cluster per physical
    operator that produced the stage's RDDs (``MapInArrow``,
    ``WholeStageCodegen (1)``, ...)."""
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    return [
        graph.makeDotFile(store.operationGraphForStage(stage))
        for job in job_ids
        for stage in sc.statusTracker().getJobInfo(job).stageIds
    ]


def test_collect_stream_is_arrow_native(ctx, monkeypatch):
    """The driver decodes the JVM's Arrow batches, not rows or worker-made
    blobs: for n rows over p partitions with r rows per JVM batch there
    are at most p + ceil(n/r) decodes — per-row objects would be 100k —
    and no stage of the stream's jobs runs a Python-worker operator
    (the former ``mapInArrow`` serializer showed up as ``MapInArrow``)."""
    import math
    import re

    from datafusion_ballista_python_spark.dataframe import DataFrame

    n, parts = 100_000, 4
    per_batch = int(ctx.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    sdf = ctx.spark.range(n, numPartitions=parts).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    )
    decodes = 0
    orig_decode = pa.ipc.read_record_batch

    def counting_decode(*a, **kw):
        nonlocal decodes
        decodes += 1
        return orig_decode(*a, **kw)

    monkeypatch.setattr(pa.ipc, "read_record_batch", counting_decode)
    sc = ctx.spark.sparkContext
    batches, jobs = _run_in_job_group(
        sc, lambda: list(DataFrame(sdf).collect_stream(batch_size=10_000))
    )
    assert sum(b.num_rows for b in batches) == n
    assert 0 < decodes <= parts + math.ceil(n / per_batch)
    graphs = _stage_operator_graphs(sc, jobs)
    assert graphs and all("WholeStageCodegen" in g for g in graphs)
    python_op = re.compile(r'label="[^"]*(Python|MapIn|InPandas|InArrow)')
    assert not [g for g in graphs if python_op.search(g)]


def test_collect_stream_empty_result_has_no_batches(ctx, li):
    from datafusion_ballista_python_spark.dataframe import DataFrame

    assert list(li.filter(lit(False)).collect_stream()) == []
    assert list(DataFrame(ctx.spark.range(0)).collect_stream()) == []


def test_collect_stream_first_batch_is_lazy(ctx):
    """The first batch of an 8-partition result costs the jobs of its own
    partition and the prefetched next one, not all eight; a consumer
    that stops there leaves the session usable."""
    from datafusion_ballista_python_spark.dataframe import DataFrame

    sc = ctx.spark.sparkContext
    stream = DataFrame(ctx.spark.range(0, 80_000, 1, 8)).collect_stream()
    first, jobs = _run_in_job_group(sc, lambda: next(stream))
    assert first.num_rows > 0
    assert 0 < len(jobs) < 8
    stream.close()
    after = DataFrame(ctx.spark.range(0, 1000, 1, 4)).collect_stream()
    assert sum(b.num_rows for b in after) == 1000


def test_collect_stream_rejects_nonpositive_batch_size(li):
    with pytest.raises(BallistaError, match="batch_size must be positive"):
        next(li.collect_stream(batch_size=0))


def test_explain_string_has_plan(li):
    plan = li.filter(col("l_quantity") > lit(10)).explain_string()
    assert "Scan parquet" in plan or "FileScan" in plan or "PhotonScan" in plan


def test_filter_pushdown_reaches_scan(li):
    from datafusion_ballista_python_spark.plans import assert_pushed_filters

    q = li.filter(col("l_quantity") > lit(45.0)).select_columns("l_returnflag")
    assert_pushed_filters(q.df, "GreaterThan(l_quantity,45.0)")


def test_column_pruning(li):
    from datafusion_ballista_python_spark.plans import scan_read_schema

    q = li.select_columns("l_returnflag", "l_quantity")
    assert set(scan_read_schema(q.df)) == {"l_returnflag", "l_quantity"}


def test_set_ops(ctx, sf_dir):
    c = ctx.read_parquet(f"{sf_dir}/customer.parquet").select(
        col("c_nationkey").alias("k")
    )
    s = ctx.read_parquet(f"{sf_dir}/supplier.parquet").select(
        col("s_nationkey").alias("k")
    )
    assert c.union(s).count() == c.count() + s.count()
    assert c.union(s, distinct=True).count() <= 25
    assert c.intersect(s).count() <= 25
    assert c.except_all(s).count() >= 0


def test_aggregate_no_groups(li):
    out = pa.Table.from_batches(
        li.aggregate([], [f.count_star().alias("n"), f.sum(col("l_quantity")).alias("s")]).collect()
    )
    assert out.column("n").to_pylist()[0] == 6000


def test_with_column_and_sort(li):
    out = (
        li.with_column("double_qty", col("l_quantity") * lit(2))
        .sort(col("double_qty").sort(False, False))
        .limit(1)
        .collect()
    )
    t = pa.Table.from_batches(out)
    assert t.column("double_qty").to_pylist()[0] == 100.0


def test_write_parquet_roundtrip(ctx, li, tmp_path):
    dest = str(tmp_path / "out.parquet")
    li.limit(50).write_parquet(dest)
    back = ctx.read_parquet(dest)
    assert back.count() == 50


def test_div_exact_beyond_double_precision(ctx):
    """Expression.div must be exact integer division: the old
    (a - a%b)/b form routed through DOUBLE and came back off by one for
    |values| > 2^53 (verified with 2^62 + 1)."""
    import pyarrow as pa

    big = 2**62 + 1
    batch = pa.RecordBatch.from_arrays(
        [pa.array([big]), pa.array([1])], names=["a", "b"]
    )
    df = ctx.create_dataframe([[batch]])
    out = pa.Table.from_batches(
        df.select(col("a").div(col("b")).alias("d")).collect()
    )
    assert out.column("d").to_pylist() == [big]


def test_context_batch_size_applies_to_provided_session(spark):
    from ballista import BallistaContext

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        BallistaContext(spark=spark, batch_size=4321)
        assert spark.conf.get(key) == "4321"
    finally:
        # shared session: restore so later tests keep their batch shape
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
