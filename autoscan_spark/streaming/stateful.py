"""Custom stateful streaming operator: incremental per-conversation fold.

Batch's ordered fold (operators.fold) needs the whole conversation; in a
stream, turns arrive incrementally and out of order. This operator keeps the
conversation's turns as keyed state (``applyInPandasWithState``) and, on each
trigger that delivers new turns for a conversation, re-emits the current
folded markdown — update semantics: downstream sinks see the latest fold per
conversation, converging to the batch result once all turns have arrived
(tested: restart-with-checkpoint equals the batch fold).

State schema: the accumulated (turn_idx, extracted_text) pairs.

Scale knobs for 10^9+ live conversations:

- **RocksDB state store** (``ROCKSDB_STATE_CONF`` /
  ``configure_rocksdb_state``): the default HDFS-backed provider keeps every
  conversation's state on the executor heap; RocksDB spills to local disk
  with changelog checkpointing, which is the only credible shape when live
  state exceeds memory. Plain OSS Spark conf — the provider class ships in
  spark-sql.
- **State expiry** (``expire_mode``):
  - ``"processing"``: drop a conversation's state after ``idle_timeout_ms``
    of wall-clock inactivity (``GroupStateTimeout.ProcessingTimeTimeout``).
    For continuously-running queries only — a registered processing-time
    timer keeps a ``Trigger.AvailableNow`` query alive waiting for it.
  - ``"event"``: drop state once the EVENT-TIME watermark passes the
    conversation's LAST EVENT TIME by ``idle_timeout_ms``
    (``GroupStateTimeout.EventTimeTimeout`` +
    ``state.setTimeoutTimestamp(max_event_ts + timeout)``, clamped just
    above the current watermark because Spark rejects timestamps at or
    below it). The group's max event time is tracked IN the state — basing
    the timer on the watermark instead would expire conversations
    prematurely whenever the watermark outruns wall-idle (first micro-batch
    of a fresh query, backlog replay, ``AvailableNow`` over historical
    data), splitting a live conversation's fold. Requires a watermark
    upstream — ``stream.stream_extract(..., watermark=...)``. Safe with
    ``Trigger.AvailableNow``: timers fire on watermark advance, so the
    query still terminates.
  - ``"none"`` (default): state lives for the query's lifetime — fine for
    bounded replays/tests, not for an unbounded production stream.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from autoscan_spark.kernels.pagejoin import join_pages

STREAM_DOC_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("markdown", StringType()),
        StructField("n_turns", IntegerType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("turn_idxs", ArrayType(IntegerType())),
        StructField("texts", ArrayType(StringType())),
        # max event-time (epoch ms) seen for this conversation — drives the
        # event-time expiry timer; 0 when expire_mode != "event"
        StructField("max_ts_ms", LongType()),
    ]
)

# Version of _STATE_SCHEMA's keyed-state layout. applyInPandasWithState
# persists state rows in the streaming checkpoint with NO self-describing
# schema: resuming a checkpoint written under a different layout
# mis-deserializes (or fails opaquely) instead of erroring cleanly — the
# streaming analog of the batch side's LINEAGE_VERSION refusal. Bump this
# whenever _STATE_SCHEMA changes (v1 = 2 fields, v2 added max_ts_ms) and
# derive checkpoint locations via versioned_checkpoint_dir() so a layout
# change can never resume an old checkpoint.
STATE_VERSION = 2


def versioned_checkpoint_dir(base_dir: str) -> str:
    """Checkpoint location for a stateful fold query: ``base_dir`` with the
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


_EXPIRE_MODES = ("none", "processing", "event")


def _make_fold_with_state(
    expire_mode: str, idle_timeout_ms: int, session_tz: str = "UTC"
):
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

        idxs, texts, max_ts_ms = (
            state.get if state.exists else ([], [], 0)
        )
        idxs = list(idxs)
        texts = list(texts)
        max_ts_ms = int(max_ts_ms or 0)
        for pdf in pdfs:
            idxs.extend(int(i) for i in pdf["turn_idx"])
            texts.extend(pdf["extracted_text"])
            if expire_mode == "event" and len(pdf):
                batch_max = pd.to_datetime(pdf["ts"]).max()
                if pd.notna(batch_max):
                    # applyInPandasWithState delivers timestamps as tz-NAIVE
                    # session-local wall time; .value on a naive Timestamp
                    # assumes UTC, which would offset the timer by the
                    # session-timezone delta vs getCurrentWatermarkMs (true
                    # UTC epoch) and expire live conversations early
                    if batch_max.tzinfo is None:
                        batch_max = batch_max.tz_localize(
                            session_tz, ambiguous=True, nonexistent="shift_forward"
                        )
                    max_ts_ms = max(max_ts_ms, int(batch_max.value // 1_000_000))

        state.update((idxs, texts, max_ts_ms))
        if expire_mode == "processing":
            state.setTimeoutDuration(idle_timeout_ms)
        elif expire_mode == "event":
            # expire relative to the conversation's own last event, NOT the
            # watermark: a fast-advancing watermark (fresh query, backlog
            # replay) must not expire a conversation that is event-time
            # live. Spark requires the timer to sit strictly above the
            # current watermark, hence the clamp.
            state.setTimeoutTimestamp(
                max(max_ts_ms + idle_timeout_ms, state.getCurrentWatermarkMs() + 1)
            )

        order = sorted(range(len(idxs)), key=lambda i: idxs[i])
        markdown = join_pages([texts[i] for i in order])
        yield pd.DataFrame(
            {"conv_id": [conv_id], "markdown": [markdown], "n_turns": [len(idxs)]}
        )

    return fold_with_state


def stream_fold_documents(
    extracted_stream: DataFrame,
    expire_mode: str = "none",
    idle_timeout_ms: int = 60 * 60 * 1000,
) -> DataFrame:
    """Stateful incremental fold over a streaming extracted-turns DataFrame
    (output of streaming.stream.stream_extract). Only ``status == 'ok'``
    turns are folded.

    ``expire_mode``: ``"none"`` | ``"processing"`` | ``"event"`` — see module
    docstring. ``"event"`` requires a watermark upstream
    (``stream_extract(..., watermark=...)``).
    """
    if expire_mode not in _EXPIRE_MODES:
        raise ValueError(f"expire_mode must be one of {_EXPIRE_MODES}, got {expire_mode!r}")
    timeout = {
        "none": GroupStateTimeout.NoTimeout,
        "processing": GroupStateTimeout.ProcessingTimeTimeout,
        "event": GroupStateTimeout.EventTimeTimeout,
    }[expire_mode]
    cols = ["conv_id", "turn_idx", "extracted_text"]
    if expire_mode == "event":
        # the watermarked column must reach the stateful operator's child
        # output or the analyzer rejects EventTimeTimeout
        if "ts" not in extracted_stream.columns:
            raise ValueError(
                "expire_mode='event' needs a watermarked 'ts' column — build "
                "the stream with stream_extract(..., watermark=...)"
            )
        cols.append("ts")
    session_tz = (
        extracted_stream.sparkSession.conf.get("spark.sql.session.timeZone")
        or "UTC"
    )
    return (
        # failed turns never enter the fold, as in the batch pipeline's
        # drop_failed, so n_turns counts ok turns only
        extracted_stream.filter(F.col("status") == "ok")
        .select(*cols)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_fold_with_state(expire_mode, idle_timeout_ms, session_tz),
            outputStructType=STREAM_DOC_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
