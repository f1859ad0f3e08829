"""End-to-end extraction pipeline (the reference's orchestrator, U2:
autoscan/autoscan.py:19-213, as a DataFrame DAG).

    transcripts scan (filter pushdown on turn range)
      → extract kernel   (one mapInArrow kernel — low: over the scan,
                          shuffle-free | high: over turns partitioned by
                          conversation and sorted by turn_idx)
      → [bucket cluster] (checkpoint waves only: the bucket from conv_id and
                          one repartition by it)
      → error handling   (low: drop failed | high: already failed fast)
      → ordered fold     (JVM expressions, one shuffle — none when clustered)
      → optional polish  (second per-document kernel pass with fallback)

Plan shape at scale: low mode has exactly ONE shuffle (the fold's groupBy).
High mode has TWO: the repartition by conv_id feeding the serial kernel,
then the fold's groupBy. The second is cheap in rows — the fold's partial
collect_list completes inside the already conversation-grouped partitions,
so it moves one row per conversation, not raw turns (pinned by
tests/test_plans.py::test_high_pipeline_shuffle_budget).

With ``n_buckets`` (the checkpoint wave) the one shuffle moves to just after
the kernel: the output is repartitioned by bucket, and the fold groups by
``(bucket, conv_id)``, which that partitioning already satisfies. Extraction
keeps the scan's parallelism; every bucket then sits in exactly one
partition, so each sink writes one file per bucket.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.operators.polish import polish_documents


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Add the checkpoint bucket, ``pmod(xxhash64(conv_id), n_buckets)``."""
    return df.withColumn("bucket", F.expr(f"CAST(pmod(xxhash64(conv_id), {int(n_buckets)}) AS INT)"))


def bucket_wave(df: DataFrame, n_buckets: int, buckets: list[int]) -> DataFrame:
    """``with_bucket`` keeping only the rows of ``buckets`` (a checkpoint
    wave's source), filtered by one ``bucket IN (..)`` expression."""
    return with_bucket(df, n_buckets).filter(f"bucket IN ({', '.join(str(int(b)) for b in buckets)})")


def extract_pipeline(
    transcripts: DataFrame,
    mode: str = "low",
    first_turn: int | None = None,
    last_turn: int | None = None,
    polish: bool = False,
    n_buckets: int | None = None,
) -> Tuple[DataFrame, DataFrame]:
    """Run extraction + fold; returns ``(extracted, doc_markdown)``.

    Both returned DataFrames are lazy — callers pick the actions (write,
    count, collect), so extracted and doc outputs can share one scan when the
    caller caches or writes ``extracted`` first.

    ``n_buckets`` clusters both outputs by checkpoint bucket: each gains a
    ``bucket`` column, ``extracted`` is repartitioned by it and the fold
    runs within those partitions.
    """
    extracted = extract_turns(
        transcripts, mode=mode, first_turn=first_turn, last_turn=last_turn
    )
    if n_buckets is not None:
        # repartition, not REBALANCE: AQE may split a rebalanced partition,
        # and then a bucket would be written by two tasks
        extracted = with_bucket(extracted, n_buckets).repartition("bucket")
    ok = drop_failed(extracted) if mode == "low" else extracted
    docs = fold_documents(ok, clustered_by=None if n_buckets is None else "bucket")
    if polish:
        docs = polish_documents(docs)
    return extracted, docs
