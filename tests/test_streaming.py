"""Structured Streaming extraction tests: incremental processing matches the
batch path; new files are picked up without reprocessing old ones."""

import os

from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.sources.transcripts import synthesize_transcripts
from autoscan_spark.streaming.stateful import (
    STATE_VERSION,
    stream_fold_documents,
    versioned_checkpoint_dir,
)
from autoscan_spark.streaming.stream import run_stream_to_parquet, stream_extract, stream_turn_metrics


def test_stream_matches_batch_and_is_incremental(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")

    batch1 = synthesize_transcripts(spark, 10, seed=11)
    batch1.write.mode("append").parquet(src)

    run_stream_to_parquet(stream_extract(spark, src), out, ckpt)
    got1 = spark.read.parquet(out)
    want1 = extract_turns(spark.read.parquet(src), mode="low")
    assert got1.count() == want1.count()

    # batch 2 arrives; only the delta should be processed (exactly-once per
    # source file via the streaming checkpoint)
    from pyspark.sql import functions as F

    batch2 = synthesize_transcripts(spark, 5, seed=12).withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )
    batch2.write.mode("append").parquet(src)
    run_stream_to_parquet(stream_extract(spark, src), out, ckpt)

    got2 = spark.read.parquet(out)
    want2 = extract_turns(spark.read.parquet(src), mode="low")
    assert got2.count() == want2.count()
    # no duplicates: (conv_id, turn_idx) unique across increments
    assert got2.select("conv_id", "turn_idx").distinct().count() == got2.count()

    # per-turn equality with the batch path
    g = {(r["conv_id"], r["turn_idx"]): r["extracted_text"] for r in got2.collect()}
    w = {(r["conv_id"], r["turn_idx"]): r["extracted_text"] for r in want2.collect()}
    assert g == w


def test_stream_windowed_metrics(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("streamw"))
    src = os.path.join(base, "src")
    synthesize_transcripts(spark, 20, seed=13).write.mode("append").parquet(src)

    metrics = stream_turn_metrics(spark, src, window="1 minute", watermark="5 minutes")
    # complete mode: append would hold the still-open window back until the
    # watermark passes it, which a single availableNow run never does for
    # fixture data that all lands in one window
    q = (
        metrics.writeStream.format("memory")
        .queryName("turn_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM turn_metrics").collect()
    src_count = spark.read.parquet(src).count()
    assert sum(r["n_turns"] for r in rows) == src_count
    assert all(r["window_start"] is not None for r in rows)
    assert all(r["n_convs_approx"] > 0 for r in rows)


def _fold_stream(extracted):
    return fold_documents(drop_failed(extracted))


def _expiring_fold(extracted):
    return stream_fold_documents(extracted, idle_timeout_ms=60 * 60 * 1000)


def _run_fold_once(spark, src, ckpt, out, fold=_fold_stream, watermark=None):
    """One AvailableNow pass of a streaming fold over the extracted ``src``;
    returns all rows the sink has accumulated (a foreachBatch sink survives
    checkpoint recovery, which the memory sink does not, and appends every
    update emission to parquet)."""

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        fold(stream_extract(spark, src, watermark=watermark))
        .writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).collect()


def _latest(rows):
    """Latest emission per conversation: the one that has seen most turns."""
    latest = {}
    for r in rows:
        if r["conv_id"] not in latest or r["n_turns"] > latest[r["conv_id"]]["n_turns"]:
            latest[r["conv_id"]] = r
    return latest


def test_stateful_fold_event_time_expiry(spark, tmp_path_factory):
    """Once the watermark passes a conversation's last activity + timeout,
    the expiring fold drops its state — a later turn starts a FRESH fold
    instead of appending to the old one."""
    from datetime import datetime

    from autoscan_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    base = str(tmp_path_factory.mktemp("eventexp"))
    src, out = (os.path.join(base, d) for d in ("src", "out"))
    # version-scoped checkpoint: a keyed-state layout change bumps
    # STATE_VERSION and lands in a sibling directory instead of
    # mis-deserializing this one
    ckpt = versioned_checkpoint_dir(os.path.join(base, "ckpt"))
    assert ckpt.endswith(f"state-v{STATE_VERSION}")
    kw = dict(watermark="10 minutes", fold=_expiring_fold)

    def write_rows(rows):
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.mode("append").parquet(src)

    # batch 1: conversation "old", two turns at 2020-01-01
    write_rows([
        ("old", 1, "user", "turn one", None, datetime(2020, 1, 1, 0, 0, 0)),
        ("old", 2, "assistant", "turn two", None, datetime(2020, 1, 1, 0, 1, 0)),
    ])
    first = _run_fold_once(spark, src, ckpt, out, **kw)
    assert {(r["conv_id"], r["n_turns"]) for r in first} == {("old", 2)}

    # batch 2: unrelated conversation a day later — advancing the watermark
    # a day past "old"'s 1h idle timeout must expire its state
    write_rows([("new", 1, "user", "hello", None, datetime(2020, 1, 2, 0, 0, 0))])
    _run_fold_once(spark, src, ckpt, out, **kw)

    # batch 3: a late turn for "old" — state was dropped, so the fold
    # restarts at 1 turn (without expiry this would be 3)
    write_rows([("old", 3, "user", "late turn", None, datetime(2020, 1, 2, 0, 30, 0))])
    third = _run_fold_once(spark, src, ckpt, out, **kw)
    old_counts = {r["n_turns"] for r in third if r["conv_id"] == "old"}
    assert 1 in old_counts, f"state not expired: {old_counts}"
    assert 3 not in old_counts


def test_stateful_fold_event_expiry_is_not_premature(spark, tmp_path_factory):
    """The expiring fold must key the timer off the conversation's LAST
    EVENT TIME, not the current watermark: on a fresh query the first
    batch's watermark is 0 (epoch), and during backlog replay the watermark
    outruns wall-idle — neither may expire a conversation that is
    event-time live. Regression: timer was watermark+timeout, so every
    conversation touched in batch 1 got a 1970 timeout and was expired by
    batch 2, splitting live folds."""
    from datetime import datetime

    from autoscan_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    base = str(tmp_path_factory.mktemp("eventlive"))
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))
    kw = dict(watermark="10 minutes", fold=_expiring_fold)

    def write_rows(rows):
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.mode("append").parquet(src)

    # batch 1 (fresh query, watermark=0): conversation "live" at 00:00
    write_rows([("live", 1, "user", "turn one", None, datetime(2020, 1, 1, 0, 0, 0))])
    _run_fold_once(spark, src, ckpt, out, **kw)

    # batch 2: unrelated row 30 min later — watermark advances to ~00:20,
    # still inside live's 1h event-time idle window → state must survive
    write_rows([("other", 1, "user", "x", None, datetime(2020, 1, 1, 0, 30, 0))])
    _run_fold_once(spark, src, ckpt, out, **kw)

    # batch 3: live's next turn at 00:40 — the fold must CONTINUE (2 turns)
    write_rows([("live", 2, "assistant", "turn two", None, datetime(2020, 1, 1, 0, 40, 0))])
    third = _run_fold_once(spark, src, ckpt, out, **kw)
    live_counts = {r["n_turns"] for r in third if r["conv_id"] == "live"}
    assert 2 in live_counts, f"live conversation's fold was split: {live_counts}"


def test_stateful_fold_rocksdb_state_store(spark, tmp_path_factory):
    """The streaming fold runs (and state survives restart) on the RocksDB
    state store provider — the memory-bounded provider a 10^9-conversation
    stream needs. Changelog files in the checkpoint prove RocksDB engaged."""
    import glob

    from pyspark.sql import functions as F

    from autoscan_spark.streaming.stateful import ROCKSDB_STATE_CONF, configure_rocksdb_state

    base = str(tmp_path_factory.mktemp("rocksdb"))
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))

    full = synthesize_transcripts(spark, 6, seed=19).filter(
        ~F.col("conv_id").endswith("-error")
    ).cache()
    old_conf = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    configure_rocksdb_state(spark)
    try:
        full.filter("turn_idx % 2 = 1").write.mode("append").parquet(src)
        _run_fold_once(spark, src, ckpt, out)
        full.filter("turn_idx % 2 = 0").write.mode("append").parquet(src)
        rows = _run_fold_once(spark, src, ckpt, out)
    finally:
        for k, v in old_conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    full.unpersist()

    latest = _latest(rows)
    batch = {
        r["conv_id"]: r
        for r in fold_documents(drop_failed(extract_turns(full, mode="low"))).collect()
    }
    assert set(latest) == set(batch)
    for conv_id, row in latest.items():
        assert row["markdown"] == batch[conv_id]["markdown"], conv_id

    changelogs = glob.glob(os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True)
    assert changelogs, "RocksDB changelog checkpointing did not engage"


def test_stateful_stream_fold_converges_to_batch(spark, tmp_path_factory):
    """Turns arrive across two separate stream runs (restart w/ checkpoint):
    the fold's state must persist, and the final emission per conversation
    must equal the batch fold of all turns."""
    base = str(tmp_path_factory.mktemp("statefold"))
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))

    # 24 conversations include -error ones, whose failed turns the stream
    # fold must drop like the batch fold does
    full = synthesize_transcripts(spark, 24, seed=17).cache()
    # split each conversation's turns across the two batches
    full.filter("turn_idx % 2 = 1").write.mode("append").parquet(src)

    first = _run_fold_once(spark, src, ckpt, out)
    assert all(r["n_turns"] > 0 for r in first)

    full.filter("turn_idx % 2 = 0").write.mode("append").parquet(src)
    # latest emission per conversation (parquet accumulates all updates)
    latest = _latest(_run_fold_once(spark, src, ckpt, out))

    batch = {
        r["conv_id"]: r
        for r in fold_documents(drop_failed(extract_turns(full, mode="low"))).collect()
    }
    assert set(latest) == set(batch)
    for conv_id, row in latest.items():
        assert row["markdown"] == batch[conv_id]["markdown"], conv_id
        assert row["n_turns"] == batch[conv_id]["n_turns"]
    full.unpersist()


def test_stream_dedup_within_watermark(spark, tmp_path_factory):
    """Watermarked streaming dedup: duplicates inside the horizon are
    dropped across micro-batches; first arrival wins."""
    from datetime import datetime

    import pandas as pd

    from autoscan_spark.streaming.stream import stream_dedup

    base = str(tmp_path_factory.mktemp("sdedup"))
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))

    schema = "doc_id long, content_fp string, ts timestamp"

    def write_rows(rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "content_fp", "ts"])
        ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup(stream, ["content_fp"], watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    t = datetime(2024, 1, 1, 10, 0, 0)
    write_rows([(1, "fp-a", t), (2, "fp-a", t), (3, "fp-b", t)])
    first = run_once()
    assert {r["content_fp"] for r in first} == {"fp-a", "fp-b"}
    assert len(first) == 2  # in-batch duplicate dropped

    # duplicate in a LATER micro-batch, still within the horizon → dropped
    write_rows([(4, "fp-a", datetime(2024, 1, 1, 10, 30, 0)),
                (5, "fp-c", datetime(2024, 1, 1, 10, 30, 0))])
    second = run_once()
    fps = sorted(r["content_fp"] for r in second)
    assert fps == ["fp-a", "fp-b", "fp-c"]  # fp-a not re-emitted
