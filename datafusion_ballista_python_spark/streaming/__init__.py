"""Structured Streaming over the ``events`` table — an extension beyond the
reference (which has no streaming operators at all; SURVEY §2.10): the same
DataFrame declarations run incrementally with watermarks, windows, session
windows and custom state.

Design: every transformation here is expressed on an unbounded DataFrame, so
it runs identically on a batch frame (tests + the DuckDB oracle exercise
exactly that equivalence) and on a stream.  ``run_available_now`` executes a
stream to the end of currently-available input (the deterministic trigger)
into a named in-memory sink.

Scale: windowed/session aggregation state is partitioned by group key across
executors (RocksDB/HDFS state store on a real cluster); watermarks bound
state size — without one, 100 TB of late-arriving keys would pin state
forever.  ``stateful_user_stats`` keeps per-key state deliberately tiny
(four numbers) so state size is O(distinct keys), not O(events).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..sources import normalize_ns_timestamps


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (file source).  One file here;
    on a real deployment the same code tails a directory/Kafka topic.

    The stream schema is probed from the data itself (a batch read of the
    same glob) rather than hardcoded: ``ts`` may arrive as timestamp[us]
    (read natively) or as a raw ns long under nanosAsLong — hardcoding one
    of the two silently corrupts every timestamp when the data is the
    other.  ``normalize_ns_timestamps`` only rewrites columns that really
    arrive as bigint, so both layouts stream correctly.
    """
    schema = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    )
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        # file-stream sources list a directory; pathGlobFilter selects the
        # events file from the shared testdata dir
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_ns_timestamps(raw)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: Optional[str] = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type.  The watermark bounds
    aggregation state (late rows beyond it are dropped); partial aggregation
    happens map-side before the keyed state shuffle."""
    src = events
    if watermark and events.isStreaming:
        # watermarks need TIMESTAMP (not NTZ); session tz is pinned UTC so
        # the cast is a pure type change
        src = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    return (
        src.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: Optional[str] = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based), built on the native
    ``session_window`` operator — state merges adjacent windows within the
    gap; works identically in batch (oracle-checked) and streaming."""
    src = events
    if watermark and events.isStreaming:
        src = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# -- custom stateful operator (applyInPandasWithState) ---------------------

STATEFUL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
        StructField("last_ts", TimestampNTZType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        # running total in exact integer micro-units (value rounded to 6
        # decimals per row, like CAST(value AS DECIMAL(25,6))) — float
        # accumulation would drift by final ulps vs a batch oracle and be
        # partition-order dependent; integer sums are exact and commutative
        StructField("total_us6", LongType()),
        StructField("mx", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def _update_user_stats(
    key: Tuple, pdfs: Iterator, state: GroupState
) -> Iterator:
    """Running per-user aggregate with explicit state — the template for
    operators Spark lacks natively (per-key models, CEP, custom decay)."""
    import numpy as np
    import pandas as pd

    n, total_us6, mx, last_us = (
        state.get if state.exists else (0, 0, float("-inf"), 0)
    )
    for pdf in pdfs:
        n += len(pdf)  # COUNT(*) semantics: null-value rows still count
        # NULL values arrive as NaN; they must be EXCLUDED before the
        # int64 cast (np.trunc(NaN).astype('int64') is undefined —
        # INT64_MIN on most platforms, ~-9.2e18 added to the total) and
        # before max (NaN would pin mx forever) — SQL SUM/MAX semantics
        vals = pdf["value"].values[pd.notna(pdf["value"].values)]
        if len(vals):
            # round half AWAY FROM ZERO (trunc(x + sign*0.5)) to match the
            # oracle's CAST(value AS DECIMAL(25,6)) — np.round's
            # half-to-even diverges on exact midpoints like 2.5e-6
            scaled = vals * 1e6
            total_us6 += int(
                np.trunc(scaled + np.copysign(0.5, scaled)).astype("int64").sum()
            )
            mx = max(mx, float(vals.max()))
        # unit-safe: pandas may hold ts as datetime64[ns] or [us] depending
        # on the Arrow source unit; normalize to us before taking the max
        ts_vals = pdf["ts"].values[pd.notna(pdf["ts"].values)]
        if len(ts_vals):
            batch_us = ts_vals.astype("datetime64[us]").astype("int64")
            last_us = max(last_us, int(batch_us.max()))
    state.update((n, total_us6, mx, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total_us6 / 1e6],
            "max_value": [mx],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming aggregate over user_id via
    ``applyInPandasWithState``; emits the updated per-user stats each
    micro-batch.  State is four scalars per key — O(users), not O(events)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=STATEFUL_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """The same per-user running stats as :func:`stateful_user_stats`, on
    Spark 4's ``transformWithStateInPandas`` (StatefulProcessor) API — the
    successor to ``applyInPandasWithState`` with typed state handles
    (value/list/map), timers, and state-schema evolution.  Both paths are
    kept: applyInPandasWithState for 3.x-compatible deployments, this for
    4.x (and for operators that need timers or multiple state variables).

    Scale: identical to the applyInPandasWithState path — one shuffle on
    the group key, state is four scalars per key in the RocksDB state
    store (``require_rocksdb_state`` sets the provider; transformWithState
    only runs on RocksDB), so memory is O(distinct keys) with spill to
    disk handled by the store itself.

    Runtime dependency note: Spark's transform_with_state_driver_worker
    speaks its state-server protocol via google.protobuf
    (StateMessage_pb2), so starting this operator requires the protobuf
    package on driver and executors; environments without it should use
    :func:`stateful_user_stats` (applyInPandasWithState), which carries
    no such dependency.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            prior = self._state.get()
            n, total_us6, mx, last_us = (
                prior if prior is not None else (0, 0, float("-inf"), 0)
            )
            for pdf in rows:
                n += len(pdf)
                # NULL handling + half-away-from-zero rounding, matching
                # the batch oracle's SUM/MAX over CAST(value AS
                # DECIMAL(25,6)) — see _update_user_stats
                vals = pdf["value"].values[pd.notna(pdf["value"].values)]
                if len(vals):
                    scaled = vals * 1e6
                    total_us6 += int(
                        np.trunc(scaled + np.copysign(0.5, scaled))
                        .astype("int64")
                        .sum()
                    )
                    mx = max(mx, float(vals.max()))
                ts_vals = pdf["ts"].values[pd.notna(pdf["ts"].values)]
                if len(ts_vals):
                    batch_us = ts_vals.astype("datetime64[us]").astype("int64")
                    last_us = max(last_us, int(batch_us.max()))
            self._state.update((n, total_us6, mx, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total_us6 / 1e6],
                    "max_value": [mx],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _UserStatsProcessor(),
        outputStructType=STATEFUL_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def require_rocksdb_state(spark: SparkSession) -> None:
    """Point the streaming state store at RocksDB — required by
    transformWithState, and the provider you want for ANY large stateful
    stream: state lives off-heap/on-disk with changelog checkpointing
    instead of in executor-heap HDFSBackedStateStore maps."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def enrich_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table, broadcast.  The standard pipeline pattern for
    attaching user/item attributes to an event stream.

    Scale: a broadcast dimension means zero shuffle of the stream — each
    executor enriches its own partitions."""
    return events.join(F.broadcast(dim), on=on, how=how)


def attributed_purchases(
    events: DataFrame,
    attribution: str = "30 minutes",
    watermark: str = "2 hours",
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """Stream-stream interval join: attribute each ``right_type`` event to
    the ``left_type`` events of the same user in the preceding
    ``attribution`` window (strictly after the click, at most the window
    later) — the canonical click→purchase attribution shape.

    Scale: both sides carry a watermark and the join condition bounds
    event-time distance, so Spark's state store retains only
    ``attribution + watermark`` of history per side — state is O(rate ×
    window), independent of stream age.  Inner interval joins emit rows
    eagerly (the watermark only drives state eviction).  One shuffle per
    side on user_id.  Works identically on the batch frame (the corpus
    oracle-checks that equivalence vs a DuckDB inequality join).
    """
    is_stream = events.isStreaming
    ts = F.col("ts").cast("timestamp") if is_stream else F.col("ts")
    clicks = events.where(F.col("event_type") == left_type).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        ts.alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == right_type).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        ts.alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if is_stream:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {attribution}"))
    )
    return clicks.join(purchases, cond, "inner").select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value"
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming deduplication: keep the first arrival per key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark``) — the
    streaming arm of operators/dedup.exact_clusters for at-least-once
    sources that re-deliver events.

    Scale: state is a hash set of keys seen within the watermark horizon —
    O(rate × watermark), not O(stream age); the plain dropDuplicates on a
    stream would retain every key forever.  On a batch frame this falls
    back to dropDuplicates (same semantics when all data is present).
    """
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    return src.dropDuplicatesWithinWatermark(keys)


def run_available_now(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming frame over all currently-available input into an
    in-memory sink; returns the sink as a DataFrame.  Deterministic (the
    availableNow trigger processes everything then stops)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def incremental_rollup_sink(
    events_stream: DataFrame,
    store_path: str,
    window: str = "1 hour",
    checkpoint_path: str | None = None,
):
    """Continuously maintain a materialized windowed rollup of an event
    stream (the hypertable-continuous-aggregate pattern): each micro-batch
    writes its own PARTIAL aggregate as a ``__batch_id``-partitioned
    parquet slice; :func:`read_rollup` merges partials at query time and
    :func:`compact_rollup_store` folds them back to one slice.

    Idempotence: the batch writes with dynamic partition overwrite on its
    own ``__batch_id`` partition, so a replayed batch (crash between
    parquet commit and checkpoint offset commit) overwrites exactly its
    previous output instead of double-counting — the write is a put, not
    an append.  Merging stored aggregates in-place per batch would break
    under replay; per-batch partials make replay naturally idempotent.

    Scale: partials are (window, event_type) counts/sums — mergeable
    algebraic aggregates, so the micro-batch shuffle is map-side-partial
    and the store grows by one tiny slice per batch regardless of event
    volume; query-time merge cost grows with batch count, which is what
    periodic :func:`compact_rollup_store` bounds.  The same shape holds
    for any mergeable rollup (sum/count/min/max/HLL partials).

    Returns the StreamingQuery.
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        partial = windowed_counts(batch, window=window, watermark=None)
        (
            partial.withColumn("__batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            # per-writer option, not the session conf: a conf flip would
            # race with any concurrent write in the same session during
            # the micro-batch window (same pattern as sources/merge.py)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(store_path)
        )

    writer = events_stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()


def read_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """Query-time merge of the rollup store's per-batch partials: one
    aggregation over (window_start, event_type).  Sums go through
    DECIMAL(25,6) so the merged total is exact and identical to a direct
    batch aggregate over the raw events (the equivalence the tests
    assert)."""
    partials = spark.read.parquet(store_path)
    return (
        partials.groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.col("total_value").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def compact_rollup_store(spark: SparkSession, store_path: str) -> None:
    """Fold all per-batch partials into a single ``__batch_id=0`` slice so
    query-time merge cost stops growing with stream age.  The merged frame
    is localCheckpointed (materialized on executors) before the overwrite
    because Spark cannot safely overwrite a path it is still lazily
    reading.  Run this from the maintenance schedule, not concurrently
    with the sink (the sink's next batch id may collide with a compaction
    in flight — same single-writer rule as any parquet-store maintenance)."""
    merged = read_rollup(spark, store_path).localCheckpoint()
    (
        merged.withColumn("__batch_id", F.lit(0))
        .write.mode("overwrite")
        # static overwrite on purpose: replace the WHOLE store with slice 0
        # even if the session default is dynamic partition overwrite
        .option("partitionOverwriteMode", "static")
        .partitionBy("__batch_id")
        .parquet(store_path)
    )


def incremental_dedup_sink(
    docs_stream: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_path: str | None = None,
):
    """Continuously ingest documents into a parquet corpus store, dropping
    anything whose content fingerprint is already stored — the streaming
    arm of exact dedup for incremental training-data ingestion.

    Per micro-batch (``foreachBatch``):
    1. dedup within the batch itself (first arrival per fingerprint);
    2. left-anti join against the store's fingerprint column — only the
       columns needed for the join are read back, so at scale this reads
       one skinny column of the store, not the corpus;
    3. append survivors (with their fingerprint materialized, so later
       batches keep reading just that column).

    Exactly-once story: parquet append + checkpointed offsets means a
    crashed batch may re-append — but re-delivered rows then dedup
    against the store on replay, so duplicates cannot accumulate (the
    dedup IS the idempotence).  At real scale, write the store
    partitioned/bucketed by fingerprint prefix so the anti-join prunes.

    Returns the StreamingQuery; callers stop it or await termination.
    """
    spark = docs_stream.sparkSession

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        seen = _read_store_or_none(spark, store_path, "__fp")
        fresh = _exact_fresh(batch, seen, text_col, id_col)
        fresh.write.mode("append").parquet(store_path)

    writer = docs_stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()


def _read_store_or_none(spark: SparkSession, store_path: str, *cols: str):
    """Read selected columns of a parquet store, or None when the store
    does not exist yet (first batch).  Probed via spark.read itself —
    driver-local path checks are always false for hdfs:///s3a:// stores.
    Only the two expected first-batch conditions map to None; any other
    AnalysisException (corrupt footer, permissions, schema) re-raises."""
    try:
        df = spark.read.parquet(store_path)
        return df.select(*cols) if cols else df
    except AnalysisException as e:
        cond = None
        for probe in ("getCondition", "getErrorClass"):
            fn = getattr(e, probe, None)
            if callable(fn):
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        if cond is not None:
            if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                return None
            raise
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            return None
        raise


def cdc_upsert_sink(
    stream: DataFrame,
    store_path: str,
    key: str,
    order_col: str,
    partition_col: str,
    tiebreak_cols: tuple = (),
    checkpoint_path: str | None = None,
):
    """Maintain a latest-row-per-key parquet table from a stream — the
    CDC-apply pattern (user state, document re-scores, entity snapshots)
    built on the copy-on-write MERGE (sources/merge.merge_into_path).

    Per micro-batch (``foreachBatch``):
    1. collapse the batch to its newest row per key (``order_col`` desc,
       then ``tiebreak_cols`` desc for determinism under equal orders);
    2. freshness gate against the store: the store holds ONE row per key,
       so its (key, order, tiebreaks) columns — column-pruned, semi-joined
       down to the batch's keys before anything moves — give the incumbent
       rank directly, and a batch row survives only when its
       (order, tiebreaks) tuple is lexicographically >= the incumbent's.
       Comparing the FULL ordering tuple (not just order_col) means an
       equal-order row with a losing tiebreak arriving in a later batch
       cannot overwrite the winner — final state is independent of how
       rows split across batches, and ``>=`` keeps replays idempotent
       (re-applying the same row overwrites itself);
    3. merge_into_path: rewrites only the touched partitions, moves a
       key's row across partitions when its latest state changes the
       partition value, and keeps keys unique.

    Scale: per batch, shuffles are over the BATCH (latest-per-key window)
    plus one broadcast-semi read of the store's rank columns; the
    write cost is O(touched partitions).  Returns the StreamingQuery.
    """
    from ..sources.merge import merge_into_path

    spark = stream.sparkSession
    rank_cols = [order_col, *tiebreak_cols]

    def _rank(prefix: str = "") -> "F.Column":
        return F.struct(*[F.col(prefix + c) for c in rank_cols])

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in rank_cols])
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        stored = _read_store_or_none(spark, store_path, key, *rank_cols)
        if stored is None:
            latest = latest.localCheckpoint()
            if latest.limit(1).count():
                # overwrite, not errorifexists: a first write that crashed
                # mid-commit leaves an unreadable dir (_read_store_or_none
                # -> None) that an append-style default could never replace
                # — the stream would crash-loop on every recovery
                latest.write.mode("overwrite").partitionBy(partition_col).parquet(
                    store_path
                )
            return
        prev = stored.join(
            F.broadcast(latest.select(key).distinct()), key, "left_semi"
        ).select(F.col(key), *[F.col(c).alias(f"__prev_{c}") for c in rank_cols])
        fresh = (
            latest.join(prev, key, "left")
            .where(
                F.col(f"__prev_{order_col}").isNull()
                | (_rank() >= _rank("__prev_"))
            )
            .drop(*[f"__prev_{c}" for c in rank_cols])
        )
        # one materialization for the emptiness probe + merge_into_path's
        # four internal actions (dup check, partition lookups, write)
        fresh = fresh.localCheckpoint()
        if fresh.limit(1).count():
            merge_into_path(
                spark, store_path, fresh, key=key, partition_col=partition_col
            )

    writer = stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()


def _exact_fresh(batch: "DataFrame", store, text_col: str, id_col: str):
    """Stage 1 shared by both ingestion sinks: fingerprint the batch, keep
    the first arrival per fingerprint, and drop anything whose fingerprint
    the store already holds.  ONE definition so the two sinks' idempotence
    contracts can never diverge."""
    from ..operators.text import normalized_text

    fp = batch.withColumn("__fp", F.md5(normalized_text(text_col)))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    fresh = (
        fp.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if store is not None:
        fresh = fresh.join(store.select("__fp"), "__fp", "left_anti")
    return fresh


def _unpersist_created_during(spark: SparkSession, before_ids: set) -> None:
    """Release every RDD persisted since ``before_ids`` was snapshotted —
    the per-micro-batch cache cleanup for sinks that call batch operators
    whose internal persists were sized for one-shot jobs (a long-running
    stream would otherwise accumulate 4 cached frames per batch,
    unbounded)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if rid not in before_ids:
            try:
                jmap.get(rid).unpersist()
            except Exception:
                pass


def _persisted_ids(spark: SparkSession) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def incremental_near_dedup_sink(
    docs_stream: DataFrame,
    store_path: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_path: str | None = None,
):
    """The NEAR-dup upgrade of :func:`incremental_dedup_sink`: each
    micro-batch is (1) exact-deduped within itself and against the
    store's fingerprints, (2) pruned of within-batch near-dups (banded
    LSH self-join, greedy keep-lowest: any doc appearing as the higher
    id of a verified pair is dropped — conservative on chains), and (3)
    pruned of docs with a verified near-dup already IN the store
    (operators/dedup.minhash_lsh_pairs_against), before appending.

    Idempotence under at-least-once replay: a re-delivered row is an
    EXACT copy of its stored self, so stage 1 drops it — duplicates
    cannot accumulate no matter how the batch boundary crashed (same
    contract as the exact sink, proven in tests).

    Scale note: stage 3 reads (id, text) back from the store to band it
    per batch; a production deployment materializes the store's banded
    signatures ONCE (columns of the store, exactly like ``__fp``) and
    appends each batch's signatures alongside — the band join then never
    re-shingles the corpus.  The batch side of every join here is the
    micro-batch: tiny, broadcast by AQE.
    """
    from ..operators import dedup as dd

    spark = docs_stream.sparkSession

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        cached_before = _persisted_ids(spark)
        store = _read_store_or_none(spark, store_path)
        fresh = _exact_fresh(batch, store, text_col, id_col)
        # several actions below resolve this frame; pin one snapshot
        fresh = fresh.localCheckpoint()
        # within-batch near-dups: greedy keep-lowest-id per verified pair
        self_pairs = dd.minhash_lsh_pairs(
            fresh, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, threshold=threshold,
            text_col=text_col, id_col=id_col,
        )
        fresh = fresh.join(
            self_pairs.select(F.col("doc_b").alias(id_col)), id_col, "left_anti"
        )
        if store is not None:
            near = dd.minhash_lsh_pairs_against(
                fresh, store.select(id_col, text_col),
                num_hashes=num_hashes, bands=bands,
                shingle_n=shingle_n, threshold=threshold,
                text_col=text_col, id_col=id_col,
            )
            # the pairs frame's batch-side column is ALWAYS named doc_id
            # (minhash_lsh_pairs_against's output contract), regardless of
            # id_col — selecting id_col here crashed for any non-default
            # id column (review-pass fix)
            fresh = fresh.join(
                near.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
            )
        fresh.write.mode("append").parquet(store_path)
        # release the LSH operators' internal persists: they are sized for
        # one-shot batch jobs, and a long-running stream would otherwise
        # cache 4 more frames every micro-batch, unbounded
        _unpersist_created_during(spark, cached_before)

    writer = docs_stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()
