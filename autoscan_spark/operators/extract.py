"""Per-turn extraction operators.

Both of the reference's accuracy modes (autoscan/autoscan.py:93-99) run the
same Arrow batch kernel, ``_extract_batches``, through ``mapInArrow``:

- ``mode='low'``  — embarrassingly parallel, shuffle-free: the kernel runs
  over the scan partitions (reference analog: concurrent asyncio.gather path,
  autoscan/autoscan.py:272-289). At 100 TB this is the throughput path — the
  extraction stage adds ZERO shuffles; Catalyst pushes the turn-range filter
  into the parquet/Iceberg scan, and each Arrow batch is processed by a
  vectorized Python kernel.

- ``mode='high'`` — per-conversation serial scan with lag-1 *output* context
  (reference: sequential loop, autoscan/autoscan.py:257-271; context
  consumption img_to_md_processor.py:56-71). Because turn k's kernel consumes
  turn k-1's OUTPUT, the chain is irreducible per conversation — parallelism
  comes from conversations, so the turns are hash-partitioned by
  ``conv_id`` (one shuffle) and sorted by ``(conv_id, turn_idx)`` within each
  partition; the kernel then carries the previous output across the rows
  and Arrow batches of a partition, resetting it at each new conversation.
  A long conversation streams through a spillable sort, never one row.

Error semantics (reference X3, autoscan/autoscan.py:250-255,283-289):
- low mode: failures become ``status='error:...'`` rows; ``drop_failed``
  removes them before the fold (the reference logs + silently drops).
- high mode: any failure raises → the Spark job fails (fail-fast), matching
  the reference's LLMProcessingError propagation.

Every Python entry point of the pipeline calls ``_drop_zip_finders`` first
and after its last batch: PySpark's worker runs ``importlib.invalidate_caches()``
at the start of each task, which makes every cached ``zipimporter``
(pyspark.zip, py4j, the spark jar on the worker ``PYTHONPATH``) re-read its
archive's whole central directory, 0.12-0.17 CPU-s per task on a reused
worker; with the finders dropped the next task has no archive to re-read, and
a later zip import re-creates its finder from zipimport's directory cache.
"""

from __future__ import annotations

import sys
import zipimport
from functools import partial
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from autoscan_spark import EXTRACTOR_VERSION
from autoscan_spark.kernels.dispatch import STATUS_OK, extract_turn

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("kind", StringType()),
        ]
    )
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("extracted_text", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("status", StringType()),
        StructField("kind", StringType()),
        StructField("in_chars", LongType()),
        StructField("out_chars", LongType()),
        StructField("extractor_version", StringType()),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(EXTRACTED_SCHEMA)


def _drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache`` so the
    next task's ``importlib.invalidate_caches()`` has no archive to re-read."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def _extract_batches(
    batches: Iterator[pa.RecordBatch], serial: bool = False
) -> Iterator[pa.RecordBatch]:
    """Vectorized batch kernel. Hot path discipline (this function dominates
    the 100 TB run): input key columns pass through as Arrow arrays untouched
    (zero copy); only role/text cross into Python; output arrays are built
    natively (ListArray.from_arrays for spans) — no from_pydict, no pandas;
    char counters come from Arrow compute, not Python len().

    ``serial`` (high mode) expects rows sorted by ``(conv_id, turn_idx)``:
    each turn gets the previous turn's output as context when both belong to
    the same conversation, and the first failed turn raises (fail-fast, like
    the reference's sequential mode, autoscan/autoscan.py:250-255)."""
    _drop_zip_finders()
    import pyarrow.compute as pc

    span_fields = list(_ARROW_SCHEMA.field("spans").type.value_type)
    prev_conv = prev_out = context = None
    for batch in batches:
        texts = batch.column("text").to_pylist()
        roles = batch.column("role").to_pylist()
        conv_ids = batch.column("conv_id").to_pylist() if serial else None
        n = len(texts)
        out_texts = [None] * n
        statuses = [None] * n
        kinds = [None] * n
        span_offsets = [0] * (n + 1)
        starts: list[int] = []
        ends: list[int] = []
        span_kinds: list[str] = []
        for i in range(n):
            if serial:
                context = prev_out if conv_ids[i] == prev_conv else None
            extracted, spans, status, kind = extract_turn(texts[i], roles[i], context)
            if serial:
                if status != STATUS_OK:
                    raise RuntimeError(
                        f"extraction failed in high (sequential) mode for "
                        f"conv_id={conv_ids[i]} "
                        f"turn_idx={batch.column('turn_idx')[i].as_py()}: {status}"
                    )
                prev_conv, prev_out = conv_ids[i], extracted
            out_texts[i] = extracted
            statuses[i] = status
            kinds[i] = kind
            for s, e, k in spans:
                starts.append(s)
                ends.append(e)
                span_kinds.append(k)
            span_offsets[i + 1] = len(starts)

        struct = pa.StructArray.from_arrays(
            [
                pa.array(starts, pa.int32()),
                pa.array(ends, pa.int32()),
                pa.array(span_kinds, pa.string()),
            ],
            fields=span_fields,
        )
        spans_arr = pa.ListArray.from_arrays(pa.array(span_offsets, pa.int32()), struct)
        out_text_arr = pa.array(out_texts, pa.string())
        in_chars = pc.fill_null(
            pc.cast(pc.utf8_length(batch.column("text")), pa.int64()), 0
        )
        out_chars = pc.cast(pc.utf8_length(out_text_arr), pa.int64())
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("conv_id"),
                pc.cast(batch.column("turn_idx"), pa.int32()),
                out_text_arr,
                spans_arr,
                pa.array(statuses, pa.string()),
                pa.array(kinds, pa.string()),
                in_chars,
                out_chars,
                pa.nulls(n, pa.string()).fill_null(EXTRACTOR_VERSION),
            ],
            schema=_ARROW_SCHEMA,
        )
    # a worker's first batch imports pandas (pyarrow loads it lazily), which
    # re-creates the finders of the zips ahead of site-packages on sys.path
    _drop_zip_finders()


def extract_turns(
    df: DataFrame,
    mode: str = "low",
    first_turn: int | None = None,
    last_turn: int | None = None,
) -> DataFrame:
    """Run the extraction kernel over a transcripts DataFrame.

    ``first_turn``/``last_turn`` are the reference's page-range pushdown (S3,
    autoscan/image_processing.py:30-31): expressed as a Catalyst filter so it
    reaches the scan (PushedFilters on turn_idx) and out-of-range turns are
    never read, let alone extracted.
    """
    if mode not in {"low", "high"}:
        raise ValueError("mode must be one of 'low', 'high'")
    if first_turn is not None:
        df = df.filter(f"turn_idx >= {int(first_turn)}")
    if last_turn is not None:
        df = df.filter(f"turn_idx <= {int(last_turn)}")

    cols = df.selectExpr("conv_id", "turn_idx", "role", "text")
    if mode == "low":
        return cols.mapInArrow(_extract_batches, schema=EXTRACTED_SCHEMA)
    return (
        cols.repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInArrow(partial(_extract_batches, serial=True), schema=EXTRACTED_SCHEMA)
    )


def drop_failed(extracted: DataFrame) -> DataFrame:
    """Low-mode drop semantics: keep only successful turns (reference:
    autoscan/autoscan.py:283-289 drops failed pages before the join)."""
    return extracted.filter("status = 'ok'")
