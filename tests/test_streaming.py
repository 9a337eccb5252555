"""Structured Streaming tests: batch/stream equivalence of windowed
aggregation, session-window invariants, and the custom stateful operator
against a batch groupBy ground truth."""

import pytest
from pyspark.sql import functions as F

from datafusion_ballista_python_spark import streaming
from datafusion_ballista_python_spark.corpus.util import load


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load(spark, sf_dir, "events")["events"]


def test_stream_window_counts_equal_batch(spark, sf_dir, events):
    stream = streaming.events_stream(spark, sf_dir)
    agg = streaming.windowed_counts(stream, window="1 hour", watermark=None)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in streaming.run_available_now(agg, "t_swc", "complete").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in streaming.windowed_counts(events, window="1 hour").collect()
    }
    assert got == want and len(got) > 0


def test_session_windows_gap_property(events):
    sess = streaming.session_counts(events, gap="30 minutes").collect()
    assert sess
    by_user = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r["session_start"])
        for a, b in zip(rows, rows[1:]):
            # sessions of one user never overlap; end = last event + gap
            assert a["session_end"] <= b["session_start"]
        assert sum(r["n_events"] for r in rows) >= len(rows)


def test_stateful_user_stats_match_batch(spark, sf_dir, events):
    stream = streaming.events_stream(spark, sf_dir)
    out = streaming.run_available_now(
        streaming.stateful_user_stats(stream), "t_sus", "update"
    )
    # last emitted row per user == full-history stats
    final = {
        r["user_id"]: r
        for r in out.orderBy("user_id").collect()  # single batch -> one row/user
    }
    want = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("tot"),
            F.max("value").alias("mx"),
            F.max("ts").alias("last"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for uid, r in final.items():
        w = want[uid]
        assert r["n_events"] == w["n"]
        assert abs(r["total_value"] - w["tot"]) < 1e-4
        assert r["max_value"] == w["mx"]
        assert r["last_ts"] == w["last"]


def test_watermark_is_set_on_stream(spark, sf_dir):
    stream = streaming.events_stream(spark, sf_dir)
    agg = streaming.windowed_counts(stream, window="1 hour", watermark="2 hours")
    assert "watermark" in agg._jdf.queryExecution().logical().toString().lower()


def test_stream_static_enrichment_join(spark, sf_dir, events):
    # dimension: per-user tier derived from customer-style table (synthetic)
    dim = (
        events.select("user_id").distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = streaming.events_stream(spark, sf_dir)
    enriched = streaming.enrich_with_dimension(stream, dim, on="user_id")
    out = streaming.run_available_now(
        enriched.groupBy("tier").count(), "t_enrich", "complete"
    ).collect()
    got = {r["tier"]: r["count"] for r in out}
    want = {
        r["tier"]: r["count"]
        for r in streaming.enrich_with_dimension(events, dim, on="user_id")
        .groupBy("tier")
        .count()
        .collect()
    }
    assert got == want and sum(got.values()) == events.count()


def test_stream_stream_join_equals_batch(spark, sf_dir, events):
    stream = streaming.events_stream(spark, sf_dir)
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in streaming.run_available_now(
            streaming.attributed_purchases(stream), "t_ssj", "append"
        ).collect()
    )
    want = sorted(
        (r["click_id"], r["purchase_id"])
        for r in streaming.attributed_purchases(events).collect()
    )
    assert got == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    import pandas as pd

    # an at-least-once source: event 1 delivered three times, event 2 twice
    pdf = pd.DataFrame(
        {
            "event_id": [1, 1, 1, 2, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00"] * 3 + ["2024-01-01 00:05:00"] * 2
                + ["2024-01-01 00:10:00"]
            ),
            "user_id": [10, 10, 10, 20, 20, 30],
        }
    )
    src_dir = str(tmp_path / "dup_events")
    spark.createDataFrame(pdf).write.parquet(src_dir)
    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src_dir)
    out = streaming.run_available_now(
        streaming.dedup_within_watermark(stream, ["event_id"]), "t_sdd", "append"
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3]
    # batch fallback keeps the same key set
    batch = streaming.dedup_within_watermark(spark.createDataFrame(pdf), ["event_id"])
    assert sorted(r["event_id"] for r in batch.collect()) == [1, 2, 3]


def test_incremental_dedup_sink_is_idempotent(spark, sf_dir, tmp_path):
    """Two ingest passes over overlapping document batches must land every
    distinct fingerprint exactly once in the store."""
    from datafusion_ballista_python_spark import streaming as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    src_a = str(tmp_path / "in_a")
    src_b = str(tmp_path / "in_b")
    store = str(tmp_path / "store")
    # batch A: first 40 docs; batch B: docs 20-60 (overlap 20-40) plus an
    # exact-content duplicate of doc at a NEW id
    a = docs.where(F.col("doc_id") < 40)
    b = docs.where(F.col("doc_id") >= 20)
    dup = docs.where(F.col("doc_id") == 0).withColumn("doc_id", F.lit(999_999).cast("long"))
    a.write.parquet(src_a)
    b.union(dup).write.parquet(src_b)

    schema = docs.schema
    for src in (src_a, src_b):
        q = S.incremental_dedup_sink(
            spark.readStream.schema(schema).parquet(src), store
        )
        q.awaitTermination()

    stored = spark.read.parquet(store)
    n_docs = docs.count()
    # every distinct content exactly once; the re-delivered overlap and the
    # renamed duplicate are both dropped
    assert stored.count() == n_docs
    assert stored.select("__fp").distinct().count() == n_docs
    assert stored.where(F.col("doc_id") == 999_999).count() == 0


class TestIncrementalRollup:
    @pytest.fixture(scope="class")
    def two_file_events(self, spark, sf_dir, tmp_path_factory):
        """events split into two parquet files so maxFilesPerTrigger=1
        yields two micro-batches (multi-batch partial merge is the point)."""
        src = str(tmp_path_factory.mktemp("roll") / "events_in")
        load(spark, sf_dir, "events")["events"].repartition(2).write.parquet(src)
        return src

    def _stream(self, spark, src):
        schema = spark.read.parquet(src).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def _expected(self, spark, src):
        return {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streaming.windowed_counts(
                spark.read.parquet(src), window="1 hour"
            ).collect()
        }

    def test_multi_batch_rollup_equals_batch(self, spark, two_file_events, tmp_path):
        store = str(tmp_path / "store")
        q = streaming.incremental_rollup_sink(
            self._stream(spark, two_file_events),
            store,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        batch_ids = {
            r["__batch_id"]
            for r in spark.read.parquet(store).select("__batch_id").distinct().collect()
        }
        assert len(batch_ids) == 2  # two files -> two partial slices
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streaming.read_rollup(spark, store).collect()
        }
        assert got == self._expected(spark, two_file_events) and len(got) > 0

    def test_replay_is_idempotent(self, spark, two_file_events, tmp_path):
        store = str(tmp_path / "store")
        for ckpt in ("c1", "c2"):  # second run = full replay, fresh offsets
            q = streaming.incremental_rollup_sink(
                self._stream(spark, two_file_events),
                store,
                checkpoint_path=str(tmp_path / ckpt),
            )
            q.awaitTermination()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streaming.read_rollup(spark, store).collect()
        }
        # replayed batches overwrote their own slices: no double counting
        assert got == self._expected(spark, two_file_events)

    def test_compaction_preserves_rollup(self, spark, two_file_events, tmp_path):
        store = str(tmp_path / "store")
        q = streaming.incremental_rollup_sink(
            self._stream(spark, two_file_events),
            store,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        before = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streaming.read_rollup(spark, store).collect()
        }
        streaming.compact_rollup_store(spark, store)
        batch_ids = {
            r["__batch_id"]
            for r in spark.read.parquet(store).select("__batch_id").distinct().collect()
        }
        assert batch_ids == {0}
        after = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streaming.read_rollup(spark, store).collect()
        }
        assert after == before


def test_cdc_upsert_sink_matches_batch_latest(spark, sf_dir, tmp_path):
    """The CDC-apply table equals the batch 'latest row per user' query,
    and re-running the whole stream into the existing store (replay) is
    idempotent."""
    from pyspark.sql import Window

    from datafusion_ballista_python_spark import streaming

    store = str(tmp_path / "user_state")

    def run(ckpt):
        q = streaming.cdc_upsert_sink(
            streaming.events_stream(spark, sf_dir),
            store,
            key="user_id",
            order_col="ts",
            partition_col="event_type",
            tiebreak_cols=("event_id",),
            checkpoint_path=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    run("ckpt1")

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = (
        batch.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
    )

    def canon(df):
        return sorted(
            (r["user_id"], r["event_id"], str(r["ts"]), r["event_type"])
            for r in df.collect()
        )

    got = spark.read.parquet(store)
    assert got.count() == expect.count()
    assert canon(got.select("user_id", "event_id", "ts", "event_type")) == canon(
        expect.select("user_id", "event_id", "ts", "event_type")
    )

    # replay the whole stream with a fresh checkpoint: same final state
    run("ckpt2")
    got2 = spark.read.parquet(store)
    assert canon(got2.select("user_id", "event_id", "ts", "event_type")) == canon(
        expect.select("user_id", "event_id", "ts", "event_type")
    )


def test_cdc_upsert_sink_multi_batch_freshness(spark, sf_dir, tmp_path):
    """Two micro-batches (random row split, so each batch holds a mix of
    old and new rows per user): the freshness gate must keep the
    latest-by-ts row per user regardless of arrival batch."""
    from pyspark.sql import Window

    from datafusion_ballista_python_spark import streaming

    src = str(tmp_path / "events_in")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "user_state_mb")
    q = streaming.cdc_upsert_sink(
        stream, store, key="user_id", order_col="ts",
        partition_col="event_type", tiebreak_cols=("event_id",),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = (
        spark.read.parquet(src)
        .withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
    )
    got = spark.read.parquet(store)
    a = sorted((r["user_id"], r["event_id"]) for r in got.collect())
    b = sorted((r["user_id"], r["event_id"]) for r in expect.collect())
    assert a == b


def test_cdc_upsert_sink_tiebreak_across_batches(spark, tmp_path):
    """An equal-order row with a LOSING tiebreak arriving in a later batch
    must not overwrite the winner: final state is independent of how rows
    split across batches."""
    import pandas as pd

    from datafusion_ballista_python_spark import streaming

    t = pd.Timestamp("2024-01-01 00:00:00")
    # batch 1: the winner (event_id 10); batch 2: same user+ts, losing id 3
    b1 = pd.DataFrame({"event_id": [10], "ts": [t], "user_id": [1],
                       "event_type": ["view"]})
    b2 = pd.DataFrame({"event_id": [3], "ts": [t], "user_id": [1],
                       "event_type": ["click"]})
    src = str(tmp_path / "in")
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    store = str(tmp_path / "state")

    def run(ckpt):
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        q = streaming.cdc_upsert_sink(
            stream, store, key="user_id", order_col="ts",
            partition_col="event_type", tiebreak_cols=("event_id",),
            checkpoint_path=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    run("c1")
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)
    run("c1")  # same checkpoint: only the new file is a new batch
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 1
    assert rows[0]["event_id"] == 10, "losing tiebreak overwrote the winner"


def test_cdc_upsert_sink_recovers_from_crashed_first_write(spark, sf_dir, tmp_path):
    """A store dir left unreadable by a crashed first write (only a
    _temporary subdir) must not wedge the stream."""
    import os as _os

    from datafusion_ballista_python_spark import streaming

    store = str(tmp_path / "state")
    _os.makedirs(_os.path.join(store, "_temporary"))
    q = streaming.cdc_upsert_sink(
        streaming.events_stream(spark, sf_dir), store,
        key="user_id", order_col="ts", partition_col="event_type",
        tiebreak_cols=("event_id",),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert spark.read.parquet(store).count() > 0


def test_incremental_near_dedup_sink_drops_near_and_exact(spark, tmp_path):
    """The near-dup ingest sink: exact store dups, near-dups of stored
    docs, and within-batch near pairs are all dropped; novel docs land."""
    from datafusion_ballista_python_spark import streaming as S

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")
    rows_a = [(1, base), (2, other)]
    rows_b = [
        (10, base),                  # exact dup of stored 1 -> dropped
        (11, base + " phi"),         # near-dup of stored 1 -> dropped
        (12, other[:-10] + " extra word here appended now"),  # near of 2? keep if < thr
        (20, "completely novel content nothing like anything stored before x y z"),
        (21, "completely novel content nothing like anything stored before x y q"),
        # 20/21 are a within-batch near pair -> keep lowest id (20)
    ]
    src_a, src_b = str(tmp_path / "na"), str(tmp_path / "nb")
    store = str(tmp_path / "nstore")
    spark.createDataFrame(rows_a, ["doc_id", "text"]).write.parquet(src_a)
    spark.createDataFrame(rows_b, ["doc_id", "text"]).write.parquet(src_b)
    schema = "doc_id long, text string"
    for src in (src_a, src_b):
        q = S.incremental_near_dedup_sink(
            spark.readStream.schema(schema).parquet(src), store, threshold=0.8
        )
        q.awaitTermination()
    stored = {r["doc_id"] for r in spark.read.parquet(store).collect()}
    assert {1, 2, 20} <= stored
    assert 10 not in stored and 11 not in stored and 21 not in stored


def test_incremental_near_dedup_sink_replay_idempotent(spark, tmp_path):
    """Re-ingesting the same batch (at-least-once replay) grows nothing."""
    from datafusion_ballista_python_spark import streaming as S

    rows = [(i, f"document number {i} with some shared words in common here")
            for i in range(8)]
    src = str(tmp_path / "rin")
    store = str(tmp_path / "rstore")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    schema = "doc_id long, text string"
    for _ in range(2):  # ingest the SAME input twice
        q = S.incremental_near_dedup_sink(
            spark.readStream.schema(schema).parquet(src), store, threshold=0.9
        )
        q.awaitTermination()
    stored = spark.read.parquet(store)
    first_pass = {r["doc_id"] for r in stored.collect()}
    assert len(first_pass) == stored.count()  # no duplicate ids
    # exact replays all dropped: count equals the single-pass survivor set
    assert stored.count() <= 8
    assert stored.select("__fp").distinct().count() == stored.count()


def test_near_dedup_sink_handles_reused_ids_and_releases_cache(spark, tmp_path):
    """A batch doc REUSING a stored doc_id with different content must
    survive (composite side-keys in the cross-corpus LSH), and the sink
    must not leak the LSH operators' internal persists across batches."""
    from datafusion_ballista_python_spark import streaming as S

    rows_a = [(5, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    rows_b = [(5, "entirely different content reusing the same identifier here")]
    src_a, src_b = str(tmp_path / "ra"), str(tmp_path / "rb")
    store = str(tmp_path / "rid_store")
    spark.createDataFrame(rows_a, ["doc_id", "text"]).write.parquet(src_a)
    spark.createDataFrame(rows_b, ["doc_id", "text"]).write.parquet(src_b)
    schema = "doc_id long, text string"
    # RELATIVE leak check: other suite tests legitimately hold caches in
    # the shared session, so assert no NET growth, not an empty cache
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for src in (src_a, src_b):
        q = S.incremental_near_dedup_sink(
            spark.readStream.schema(schema).parquet(src), store, threshold=0.8
        )
        q.awaitTermination()
    stored = spark.read.parquet(store)
    # both contents present (the novel doc was NOT dropped by its namesake)
    assert stored.count() == 2
    assert stored.select("__fp").distinct().count() == 2
    # no cached frames left behind by the per-batch LSH internals
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"{after - before} persisted RDDs leaked"


def test_stateful_user_stats_null_values(spark, tmp_path):
    """NULL values/ts in a batch: NaN must be EXCLUDED before the int64
    cast (np.trunc(NaN).astype(int64) is INT64_MIN, ~-9.2e18 added to the
    total) and before max; COUNT(*) still counts the rows — SQL SUM/MAX
    semantics, same as the DuckDB oracle."""
    import datetime as dt

    src_dir = tmp_path / "null_events"
    t0 = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [
            (1, t0, 2.5),
            (1, t0 + dt.timedelta(minutes=1), None),
            (1, t0 + dt.timedelta(minutes=2), 1.5),
            (2, t0, None),  # user with ONLY null values
        ],
        "user_id long, ts timestamp_ntz, value double",
    )
    batch.write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src_dir))
    )
    out = {
        r["user_id"]: r
    for r in streaming.run_available_now(
            streaming.stateful_user_stats(stream), "t_sus_null", "update"
        ).collect()
    }
    assert out[1]["n_events"] == 3
    assert out[1]["total_value"] == 4.0
    assert out[1]["max_value"] == 2.5
    assert out[2]["n_events"] == 1
    assert out[2]["total_value"] == 0.0


def test_incremental_near_dedup_sink_custom_id_col(spark, tmp_path):
    """Non-default id_col: the store-near-dup prune selected id_col from
    a pairs frame whose batch-side column is ALWAYS doc_id — the query
    died with UNRESOLVED_COLUMN on the second batch (review-pass fix)."""
    from datafusion_ballista_python_spark import streaming as S

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    src_a, src_b = str(tmp_path / "ca"), str(tmp_path / "cb")
    store = str(tmp_path / "cstore")
    spark.createDataFrame([(1, base)], ["uid", "text"]).write.parquet(src_a)
    spark.createDataFrame(
        [(10, base + " phi"),  # near-dup of stored 1 -> dropped
         (20, "entirely new content with nothing shared at all here")],
        ["uid", "text"],
    ).write.parquet(src_b)
    schema = "uid long, text string"
    for src in (src_a, src_b):  # second batch exercises the store path
        q = S.incremental_near_dedup_sink(
            spark.readStream.schema(schema).parquet(src), store,
            threshold=0.8, id_col="uid",
        )
        q.awaitTermination()
    stored = {r["uid"] for r in spark.read.parquet(store).collect()}
    assert stored == {1, 20}
