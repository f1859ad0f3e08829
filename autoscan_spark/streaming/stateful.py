"""Streaming document fold with event-time state expiry.

A stream whose conversations may live as long as the query folds with the
batch function, unchanged: ``fold_documents(drop_failed(stream))`` in update
mode. The aggregation keeps each conversation's pages as state and re-emits
its document whenever new turns arrive, converging to the batch result once
all turns have arrived (tested: restart-with-checkpoint equals the batch
fold).

A streaming aggregation cannot release that state: a plain
``groupBy(conv_id)`` never evicts, and Spark rejects update mode for
session-window aggregations. ``stream_fold_documents`` is the keyed-state
operator (``applyInPandasWithState``) for the one case that needs it:
dropping a conversation's state once the EVENT-TIME watermark passes its
last event time by ``idle_timeout_ms``. It only accumulates: each page is
cleaned before it enters the state, the state holds
``(turn_idxs, texts, max_ts_ms)``, and every update emits the arrays. The
empty-page filter, turn order and separator then run in the JVM. Cleaning
and joining are the batch fold's own SQL fragments (``fold._clean`` and
``fold._join``), so one definition of each serves both folds.

The timer is ``max_ts_ms + idle_timeout_ms``, clamped just above the current
watermark because Spark rejects timestamps at or below it. The group's max
event time is tracked IN the state — basing the timer on the watermark
instead would expire conversations prematurely whenever the watermark
outruns wall-idle (first micro-batch of a fresh query, backlog replay,
``AvailableNow`` over historical data), splitting a live conversation's
fold. Requires a watermark upstream —
``stream.stream_extract(..., watermark=...)``. Safe with
``Trigger.AvailableNow``: timers fire on watermark advance, so the query
still terminates.

**RocksDB state store** (``ROCKSDB_STATE_CONF`` / ``configure_rocksdb_state``),
for either fold: the default HDFS-backed provider keeps every conversation's
state on the executor heap; RocksDB spills to local disk with changelog
checkpointing, which is the only credible shape when live state exceeds
memory. Plain OSS Spark conf — the provider class ships in spark-sql.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from autoscan_spark.operators.extract import drop_failed
from autoscan_spark.operators.fold import _clean, _join

_STATE_SCHEMA = StructType(
    [
        StructField("turn_idxs", ArrayType(IntegerType())),
        # cleaned page texts, aligned with turn_idxs
        StructField("texts", ArrayType(StringType())),
        # max event time (epoch ms) seen for this conversation
        StructField("max_ts_ms", LongType()),
    ]
)

_EMIT_SCHEMA = StructType([StructField("conv_id", StringType()), *_STATE_SCHEMA.fields[:2]])

# Version of _STATE_SCHEMA's keyed-state layout. applyInPandasWithState
# persists state rows in the streaming checkpoint with NO self-describing
# schema: resuming a checkpoint written under a different layout
# mis-deserializes (or fails opaquely) instead of erroring cleanly — the
# streaming analog of the batch side's LINEAGE_VERSION refusal. Bump this
# whenever the state's layout or meaning changes (v1 = 2 fields, v2 added
# max_ts_ms, v3 stores cleaned texts) and derive checkpoint locations via
# versioned_checkpoint_dir() so a layout change can never resume an old
# checkpoint.
STATE_VERSION = 3


def versioned_checkpoint_dir(base_dir: str) -> str:
    """Checkpoint location for an expiring fold query: ``base_dir`` with the
    state-layout version baked into the path. Old-layout checkpoints keep
    their own directory (inspectable, re-runnable with the old code) and
    are never resumed by new-layout code."""
    import os

    return os.path.join(base_dir, f"state-v{STATE_VERSION}")

# RocksDB-backed keyed state: off-heap, disk-spilling, changelog-checkpointed.
# All-public OSS Spark conf (provider class ships in spark-sql).
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    # checkpoint only the delta per micro-batch, not full SST snapshots
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def configure_rocksdb_state(spark: SparkSession) -> None:
    """Switch this session's streaming state store to RocksDB (must be set
    before the streaming query starts; existing HDFS-provider checkpoints
    cannot be mixed — use a fresh checkpoint location)."""
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)


def _make_fold_with_state(idle_timeout_ms: int):
    def fold_with_state(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            # idle conversation: release its state; a late turn after this
            # point starts a fresh fold (documented trade — same as any
            # watermark-bounded stateful op)
            state.remove()
            return

        idxs, texts, max_ts_ms = state.get if state.exists else ([], [], 0)
        idxs, texts = list(idxs), list(texts)
        for pdf in pdfs:
            idxs.extend(pdf["turn_idx"].tolist())
            texts.extend(pdf["text"].tolist())
            batch_max = pdf["ts_ms"].max()
            if pd.notna(batch_max):
                max_ts_ms = max(max_ts_ms, int(batch_max))

        state.update((idxs, texts, max_ts_ms))
        # expire relative to the conversation's own last event, NOT the
        # watermark; Spark requires the timer strictly above the watermark
        state.setTimeoutTimestamp(
            max(max_ts_ms + idle_timeout_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame({"conv_id": [conv_id], "turn_idxs": [idxs], "texts": [texts]})

    return fold_with_state


def stream_fold_documents(extracted_stream: DataFrame, idle_timeout_ms: int) -> DataFrame:
    """Incremental fold that drops a conversation's state once the
    watermark passes its last event time by ``idle_timeout_ms`` (see the
    module docstring). ``extracted_stream`` is
    ``stream.stream_extract(..., watermark=...)``: it must carry the
    watermarked ``ts`` column. Only ``status == 'ok'`` turns are folded.

    Output: (conv_id, markdown, n_turns), one update per conversation per
    micro-batch that delivers its turns.
    """
    # the watermarked column must reach the stateful operator's child
    # output or the analyzer rejects EventTimeTimeout
    if "ts" not in extracted_stream.columns:
        raise ValueError(
            "stream_fold_documents needs a watermarked 'ts' column — build "
            "the stream with stream_extract(..., watermark=...)"
        )
    states = (
        drop_failed(extracted_stream)
        .selectExpr(
            "conv_id",
            "turn_idx",
            f"{_clean('extracted_text')} AS text",
            "ts",
            "unix_millis(ts) AS ts_ms",
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_fold_with_state(idle_timeout_ms),
            outputStructType=_EMIT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # as in fold_documents: empty pages leave the fold, n_turns counts them
    pages = "zip_with(turn_idxs, texts, (i, t) -> struct(i AS turn_idx, t AS text))"
    return states.selectExpr(
        "conv_id",
        f"array_sort(filter({pages}, x -> x.text != '')) AS __items",
        "size(turn_idxs) AS n_turns",
    ).selectExpr("conv_id", f"{_join('__items')} AS markdown", "n_turns")
