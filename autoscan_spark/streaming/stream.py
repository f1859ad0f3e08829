"""Structured Streaming variant of the extraction stage.

The reference is strictly batch (SURVEY.md §2.1), but a transcript table at
10^12 turns is fed continuously — this module runs the SAME extraction kernel
(operators.extract._extract_batches, i.e. identical per-turn semantics) as a
streaming job:

    readStream (parquet/Iceberg dir of transcript files)
      → mapInArrow extraction (stateless — low mode only; high mode's
        cross-turn state needs the batch path or applyInPandasWithState)
      → writeStream parquet sink, per-source-file exactly-once via Spark's
        streaming checkpoint

plus a watermarked windowed aggregation (late data handled by event-time
watermark on ``ts``) for live per-window throughput metrics.

``Trigger.AvailableNow`` turns the same query into an incremental batch job —
the deployment mode a periodic 10^12-turn ingest actually uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from autoscan_spark.operators.extract import (
    EXTRACTED_SCHEMA,
    _extract_batches,
    extract_turns,
)
from autoscan_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming DataFrame of extracted turns from a growing parquet dir.

    ``watermark`` (e.g. ``"10 minutes"``): tees ``ts`` through the extraction
    kernel (the batch kernel is row-aligned per Arrow batch, so the column
    passes through zero-copy) and attaches the event-time watermark to the
    extracted stream — downstream stateful operators (e.g.
    ``stateful.stream_fold_documents`` with ``expire_mode="event"``) need the
    watermarked column in their child's output, so it must survive the
    kernel, not sit below it.
    """
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    transcripts = reader.parquet(input_dir)
    if watermark is None:
        return extract_turns(transcripts, mode="low")

    def batches_with_ts(batches):
        import pyarrow as pa

        for batch in batches:
            ts = batch.column("ts")
            core = pa.RecordBatch.from_arrays(
                [batch.column(c) for c in ("conv_id", "turn_idx", "role", "text")],
                names=["conv_id", "turn_idx", "role", "text"],
            )
            for out in _extract_batches(iter([core])):
                yield out.append_column(
                    pa.field("ts", pa.timestamp("us", tz="UTC")),
                    ts.cast(pa.timestamp("us", tz="UTC")),
                )

    schema_ts = StructType(EXTRACTED_SCHEMA.fields + [StructField("ts", TimestampType())])
    extracted = transcripts.select(
        "conv_id", "turn_idx", "role", "text", "ts"
    ).mapInArrow(batches_with_ts, schema=schema_ts)
    return extracted.withWatermark("ts", watermark)


def stream_turn_metrics(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked per-event-time-window extraction metrics (late turns
    beyond the watermark are dropped, the standard streaming trade)."""
    transcripts = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("in_chars"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_turns",
            "in_chars",
            "n_convs_approx",
        )
    )


def run_stream_to_parquet(
    extracted_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Run the streaming extraction into a parquet sink.

    ``available_now=True`` processes everything currently in the source then
    stops — incremental-batch mode. Returns the StreamingQuery (already
    awaited when available_now).
    """
    writer = (
        extracted_stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key within the
    event-time watermark horizon (``dropDuplicatesWithinWatermark``) — the
    incremental counterpart of batch ``operators.dedup.exact_dedup``.

    State shape at scale: one state row per DISTINCT key seen inside the
    watermark horizon, expired automatically as the watermark advances —
    bounded by arrival rate × horizon, NOT by corpus size (a plain
    ``dropDuplicates`` on a stream would keep every key forever and OOM a
    10⁹-doc ingest). Exactly-once per key is within-horizon: a duplicate
    arriving after its original has expired is re-emitted — the standard
    watermarked-dedup trade, same as any state-expiring engine. Use the
    RocksDB provider (``streaming.stateful.configure_rocksdb_state``) when
    the live horizon exceeds executor memory."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
