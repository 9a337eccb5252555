"""Physical-layer round-trip corpus entries (r10 verdict task #5).

SURVEY §2.13 carried a handful of operators certified only by unit /
plan tests because their PRIMARY effect is filesystem- or process-level
(the on-disk IVF index, hive partition directories, compaction file
counts, avro container bytes, cross-batch streaming state).  Their
VALUE-level contracts are still SQL-expressible — a partitioned /
compacted / avro round-trip must preserve every row, the on-disk index
must answer like the in-memory one, the incremental dedup store must
converge to the batch-dedup fingerprint set — so this module certifies
exactly those contracts with full DuckDB value-hash oracles.  What stays
outside the oracle (file counts, directory layout, exchange-freeness,
replay idempotence) remains pinned by the dedicated pytest suites;
SURVEY §2.13 notes the split per row.  The salted skew operators'
entries (``skew_salted_agg`` / ``skew_salted_join``) live in
``pipelines.py``.

Entries that write use a fresh ``tempfile.mkdtemp`` per invocation —
results never depend on prior runs.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ..operators import similarity
from ..sources import avro as avro_src
from ..sources import layout
from ..sources import read_avro
from .. import streaming
from . import query
from .llm import _IVF_CENTROIDS, _IVF_N_PROBE, _IVF_ORACLE
from .util import load


# ---------------------------------------------------------------------------
# IVF on-disk index: cell-partitioned parquet serving layout
# ---------------------------------------------------------------------------

@query("ann_ivf_index_topk", oracle=_IVF_ORACLE)
def ann_ivf_index_topk(spark, sf_dir):
    """The on-disk IVF serving path (similarity.write_ivf_index ->
    ivf_topk_from_index): the index is materialized as a cell-partitioned
    parquet dataset in a fresh temp dir, then queried back — certified
    against the SAME oracle as the in-memory `ann_ivf_topk` entry, which
    is the contract: the disk layout may only change WHAT IS READ
    (probed cell directories via dynamic partition pruning,
    plan-asserted in tests), never the result.  Same pinned seeded
    quantizer as `ann_ivf_topk`."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_index_")
    similarity.write_ivf_index(cands, path, _IVF_CENTROIDS)
    return similarity.ivf_topk_from_index(
        spark, path, queries_df, _IVF_CENTROIDS, k=10, n_probe=_IVF_N_PROBE
    ).orderBy("qid", F.desc("cos_sim"), "vec_id")


@query("ann_ivf_index_incremental", oracle=_IVF_ORACLE)
def ann_ivf_index_incremental(spark, sf_dir):
    """Incremental IVF index maintenance (similarity.append_ivf_index):
    the index is built from HALF the candidates, the other half is
    ingested as a partition-local append (only receiving cells gain
    files, O(delta) cost), and the queried result must equal the
    one-shot full-set index — certified against the same oracle as
    `ann_ivf_topk`/`ann_ivf_index_topk`.  This is the streaming-ANN
    completion of the serving story: base build -> delta appends ->
    unchanged query semantics."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_incr_")
    similarity.write_ivf_index(
        cands.filter(F.col("vec_id") % 2 == 1), path, _IVF_CENTROIDS
    )
    similarity.append_ivf_index(
        cands.filter(F.col("vec_id") % 2 == 0), path, _IVF_CENTROIDS
    )
    return similarity.ivf_topk_from_index(
        spark, path, queries_df, _IVF_CENTROIDS, k=10, n_probe=_IVF_N_PROBE
    ).orderBy("qid", F.desc("cos_sim"), "vec_id")


# ---------------------------------------------------------------------------
# hive-partitioned write / compaction: row-fidelity round trips
# ---------------------------------------------------------------------------

_DOCS_BY_LANG_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


def _docs_by_lang(df):
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum(F.length("text")).cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query("layout_partition_roundtrip", oracle=_DOCS_BY_LANG_ORACLE)
def layout_partition_roundtrip(spark, sf_dir):
    """Hive-partitioned write (sources/layout.write_partitioned) round
    trip: documents written partitioned by lang, read back through the
    partition-directory decoding path, and re-aggregated — certifying
    that partition values survive the column -> directory-name -> column
    encoding and that no row is lost or duplicated by the pre-write
    repartition routing.  File-count control and pruning stay pinned by
    tests/test_layout.py + plan tests (not SQL-expressible)."""
    docs = load(spark, sf_dir, "documents")["documents"]
    path = tempfile.mkdtemp(prefix="spark_graft_part_rt_")
    layout.write_partitioned(
        docs.select("doc_id", "lang", "text"), path, ["lang"]
    )
    return _docs_by_lang(layout.read_partitioned(spark, path))


@query("layout_compact_roundtrip", oracle=_DOCS_BY_LANG_ORACLE)
def layout_compact_roundtrip(spark, sf_dir):
    """Compaction (sources/layout.compact) round trip: a deliberately
    fragmented write (6 files) compacted into ~1, read back, and
    re-aggregated — certifying the rewrite is value-lossless.  The file
    sizing/overlap-guard behavior stays pinned by tests/test_layout.py."""
    import os

    docs = load(spark, sf_dir, "documents")["documents"]
    base = tempfile.mkdtemp(prefix="spark_graft_compact_rt_")
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    docs.select("doc_id", "lang", "text").repartition(6).write.parquet(src)
    layout.compact(spark, src, dst, target_mb=1024)
    return _docs_by_lang(spark.read.parquet(dst))


# ---------------------------------------------------------------------------
# avro source/sink: pure-Python container codec round trip
# ---------------------------------------------------------------------------

@query(
    "avro_roundtrip_agg",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
    FROM documents
    WHERE doc_id % 7 = 0
    GROUP BY lang
    ORDER BY lang
    """,
)
def avro_roundtrip_agg(spark, sf_dir):
    """Avro sink -> source round trip (sources/avro.py: the bundled
    pure-Python object-container codec, reference parity for
    read_avro/register_avro at src/context.rs:89-98): a documents sample
    encoded to avro container files (deflate), decoded back by the
    distributed one-task-per-file reader, and aggregated — certifying
    long/string value fidelity through the zigzag/varint/deflate byte
    path against parquet ground truth.  Block/codec internals stay
    pinned by tests/test_avro.py."""
    docs = load(spark, sf_dir, "documents")["documents"]
    sample = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", "text"
    )
    path = tempfile.mkdtemp(prefix="spark_graft_avro_rt_")
    avro_src.write_avro(sample, path)
    return _docs_by_lang(read_avro(spark, path))


# ---------------------------------------------------------------------------
# incremental streaming dedup sink: cross-batch state vs batch semantics
# ---------------------------------------------------------------------------

@query(
    "stream_incremental_dedup",
    oracle=r"""
    WITH u AS (
        SELECT DISTINCT
               MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT SUBSTRING(fp, 1, 1) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_unique
    FROM u
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_incremental_dedup(spark, sf_dir):
    """The incremental exact-dedup ingestion sink
    (streaming.incremental_dedup_sink) executed AS A STREAM — documents
    split into 6 files, one micro-batch each (maxFilesPerTrigger=1), so
    the store's left-anti fingerprint join is exercised ACROSS batches —
    then the final store compared to the batch dedup semantics: exactly
    one stored row per distinct content fingerprint.  The certified
    frame buckets fingerprints by first hex digit (16 rows of counts),
    which is invariant to micro-batch arrival order; per-fingerprint
    survivor choice under replay/idempotence stays pinned by
    tests/test_streaming.py."""
    import os

    docs = load(spark, sf_dir, "documents")["documents"]
    base = tempfile.mkdtemp(prefix="spark_graft_inc_dedup_")
    src = os.path.join(base, "src")
    store = os.path.join(base, "store")
    ckpt = os.path.join(base, "ckpt")
    docs.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = streaming.incremental_dedup_sink(stream, store, checkpoint_path=ckpt)
    q.awaitTermination()
    return (
        spark.read.parquet(store)
        .select(F.substring("__fp", 1, 1).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
        .orderBy("bucket")
    )
