"""Streaming ingest + windowed aggregation (SURVEY §2.9, M9).

Design notes for scale:
- The file stream checkpoints processed-file state — this SUBSUMES the
  reference's markProcessed ledger (Wrap.pm:429-449): exactly-once file
  handling with no bespoke bookkeeping.
- `Trigger.AvailableNow` gives batch-equivalent semantics (drain
  what's there, then stop) — the reference's retry-until-plannedUntil
  loop without the polling (Wrap.pm:604-631).
- Watermarks bound state for late events; window state lives in the
  state store, partitioned by group key — no driver accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv_stream(
    spark: SparkSession,
    path: str,
    schema,
    sep: str = "\t",
    header: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming equivalent of the reference's directory-polling pickup
    (getLocalFiles + retry loop): new files in `path` become micro-batch
    input; checkpointing remembers what was processed."""
    reader = (
        spark.readStream.schema(schema)
        .option("sep", sep)
        .option("header", str(header).lower())
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def read_parquet_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming form of
    catalog q11 (same plan shape; readStream swaps in for read)."""
    return (
        events.withWatermark(ts_col, watermark)
        # group on the window STRUCT itself — projecting .start inside the
        # groupBy severs the watermark association and append mode rejects
        # the aggregation as unwatermarked
        .groupBy(F.window(ts_col, window), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(38,6)").alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), key_col, "n_events", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """True streaming sessionization via session_window (state-store
    backed; the batch catalog q12 is the lag/cumsum equivalent)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            user_col,
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, out_path: str, fmt: str = "parquet") -> None:
    """Drain all available input once (batch-equivalent trigger), writing
    append-mode output; returns after the drain completes."""
    q = (
        stream_df.writeStream.format(fmt)
        .option("checkpointLocation", checkpoint)
        .option("path", out_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch(stream_df: DataFrame, checkpoint: str, fn, mode: str = "update"):
    """Custom-sink bracket: `fn(batch_df, batch_id)` per micro-batch —
    the idiomatic home for MERGE-style upserts of windowed aggregates."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedupe_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon (state for a key expires once the watermark
    passes it — bounded state, unlike an unbounded dropDuplicates).
    The streaming form of the dedup operators' exact path."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def enrich_stream(stream: DataFrame, dim: DataFrame, on: list[str], how: str = "left") -> DataFrame:
    """Stream-static enrichment join: the static (dimension) side is
    re-read per micro-batch and broadcast — the streaming form of the
    lookup-enrichment operator (J1)."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), on=on, how=how)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with right events
    of the same key whose timestamp falls in [left_ts - lookback,
    left_ts]. Both sides carry watermarks so the join state is bounded
    and old buffered rows expire — the streaming form of a bounded
    as-of/range join."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= F.expr(f"{left_ts} - INTERVAL {lookback}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    return lw.join(rw, cond, "inner")


def streaming_near_dup_index(
    docs_stream: DataFrame,
    index_path: str,
    hits_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_j_bp: int = 5000,
):
    """Streaming incremental near-dup detection: each arriving
    micro-batch of documents is (1) checked against the standing
    MinHash signature index (band-key join + matching-hash Jaccard
    estimate → hits_path), then (2) appended to the index — so later
    batches dedup against everything ingested before them.

    The index holds ~32 ints per document (operators/dedup.py:
    signature_index); batches are small relative to it, so the band
    join broadcasts the batch side. foreachBatch is at-least-once, so
    both writes are partitioned by batch_id with DYNAMIC partition
    overwrite: a retried micro-batch replaces its own partition instead
    of double-appending — making the bracket effectively idempotent.
    Within a batch, cross-batch pairs only (intra-batch dups are the
    batch self-join's job at load time, q23's path).
    """
    from etl_wrap_spark.operators import dedup
    from etl_wrap_spark.sinks.parquet import overwrite_partitions

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bsig = dedup.signature_index(batch_df, id_col, text_col).withColumn(
            "_batch", F.lit(batch_id)
        )
        try:
            isig = spark.read.parquet(index_path).where(F.col("_batch") < batch_id)
            have_index = True
        except Exception:
            have_index = False
        if have_index:
            hits = dedup.incremental_near_dups(
                bsig.drop("_batch"), isig.drop("_batch"), id_col
            ).where(F.col("est_j_bp") >= min_est_j_bp)
            overwrite_partitions(
                hits.withColumn("_batch", F.lit(batch_id)), hits_path, ["_batch"]
            )
        overwrite_partitions(bsig, index_path, ["_batch"])

    return run_foreach_batch(docs_stream, checkpoint, _process, mode="append")


def stream_upsert_to_lake(
    stream_df: DataFrame,
    table,
    keys: list[str],
    checkpoint: str,
    app_id: str | None = None,
):
    """Stream MERGE into an AtomicTable (sinks/lake.py): each micro-batch
    upserts by key as ONE atomic manifest-swap commit, so concurrent
    readers of the table see a consistent pre- or post-batch state,
    never a half-applied batch — the streaming form of the reference's
    transaction bracket.

    EXACTLY-ONCE: foreachBatch is at-least-once, so each commit carries
    ``txn=(app_id, batch_id)`` — the manifest's transaction ledger
    (AtomicTable.last_txn_version, the Delta txnAppId pattern) makes a
    replayed batch a no-op commit. This holds even for NON-idempotent
    batch content (e.g. counters that would double-apply); the earlier
    value-idempotence argument (same keyed rows → same state) remains
    as belt-and-braces for same-content replays. ``app_id`` defaults to
    the checkpoint path, which is unique per logical stream."""
    app = app_id or f"stream:{checkpoint}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # both table kinds' upsert commit the first batch of an empty table
        table.upsert(batch_df, keys, txn=(app, int(batch_id)))

    return run_foreach_batch(stream_df, checkpoint, _apply, mode="update")
