"""Per-turn extraction operators.

Both of the reference's accuracy modes (autoscan/autoscan.py:93-99) run the
same Arrow batch kernel, ``_extract_batches``, through ``mapInArrow``:

- ``mode='low'``  — embarrassingly parallel, shuffle-free: the kernel runs
  over the scan partitions (reference analog: concurrent asyncio.gather path,
  autoscan/autoscan.py:272-289). At 100 TB this is the throughput path — the
  extraction stage adds ZERO shuffles; Catalyst pushes the turn-range filter
  into the parquet/Iceberg scan, and each Arrow batch is processed by a
  vectorized Python kernel. Arrow compute triages the batch first: only the
  turns the envelope can change (``kernels.dispatch.NEEDS_KERNEL``: markup,
  fences, table or heading openings, trailing whitespace, tool turns) run
  the per-row Python kernel, and the other turns, about three quarters of a
  mixed corpus, pass through as Arrow arrays.

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
from autoscan_spark.kernels.dispatch import (
    KIND_PLAIN,
    NEEDS_KERNEL,
    STATUS_OK,
    TOOL_ROLE,
    extract_turn,
)

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


def _constant(n: int, value: str) -> pa.Array:
    return pa.nulls(n, pa.string()).fill_null(value)


def _extract_batches(
    batches: Iterator[pa.RecordBatch], serial: bool = False
) -> Iterator[pa.RecordBatch]:
    """Vectorized batch kernel. Hot path discipline (this function dominates
    the 100 TB run): each batch is triaged with Arrow compute, and only the
    rows the envelope may change (``TOOL_ROLE`` or a ``NEEDS_KERNEL`` match:
    markup, fences, tables, headings, trailing whitespace, tool turns) cross
    into Python for ``extract_turn``. Every other row is a plain
    pass-through whose output columns are built in Arrow: its text (null as
    ``''``), one ``plain`` span over it (none when empty), status ``ok``,
    kind ``plain``. Key columns pass through untouched, the kernel rows'
    results replace the pass-through values at their positions
    (``replace_with_mask``), and span offsets come from a numpy ``cumsum``.

    ``serial`` (high mode) expects rows sorted by ``(conv_id, turn_idx)``:
    each turn gets the previous turn's output as context when both belong to
    the same conversation (a pass-through turn's output is its text, which
    the context rule never changes), and the first failed turn raises
    (fail-fast, like the reference's sequential mode,
    autoscan/autoscan.py:250-255)."""
    _drop_zip_finders()
    import numpy as np
    import pyarrow.compute as pc

    span_fields = list(_ARROW_SCHEMA.field("spans").type.value_type)
    prev_conv = prev_out = None
    for batch in batches:
        n = batch.num_rows
        text, role = batch.column("text"), batch.column("role")
        needs = pc.fill_null(
            pc.or_kleene(
                pc.equal(role, TOOL_ROLE), pc.match_substring_regex(text, NEEDS_KERNEL)
            ),
            False,
        ).to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(needs)
        m = len(rows)
        texts = text.take(rows).to_pylist()
        roles = role.take(rows).to_pylist()
        if serial:
            conv = batch.column("conv_id")
            convs = conv.take(rows).to_pylist()
            before = np.maximum(rows - 1, 0)
            before_convs = conv.take(before).to_pylist()
            before_texts = text.take(before).to_pylist()
        row_list = rows.tolist()
        outs = [None] * m
        statuses = [None] * m
        kinds = [None] * m
        n_spans = [0] * m
        starts: list[int] = []
        ends: list[int] = []
        span_kinds: list[str] = []
        for j in range(m):
            context = None
            if serial:
                i = row_list[j]
                if i == 0:
                    if convs[j] == prev_conv:
                        context = prev_out
                elif convs[j] == before_convs[j]:
                    if j and row_list[j - 1] == i - 1:
                        context = outs[j - 1]
                    else:
                        context = before_texts[j] or ""
            extracted, spans, status, kind = extract_turn(texts[j], roles[j], context)
            if serial and status != STATUS_OK:
                raise RuntimeError(
                    f"extraction failed in high (sequential) mode for "
                    f"conv_id={convs[j]} "
                    f"turn_idx={batch.column('turn_idx')[row_list[j]].as_py()}: {status}"
                )
            outs[j] = extracted
            statuses[j] = status
            kinds[j] = kind
            n_spans[j] = len(spans)
            for s, e, k in spans:
                starts.append(s)
                ends.append(e)
                span_kinds.append(k)
        if serial and n:
            prev_conv = conv[n - 1].as_py()
            if m and row_list[-1] == n - 1:
                prev_out = outs[-1]
            else:
                prev_out = text[n - 1].as_py() or ""

        mask = pa.array(needs)
        out_text_arr = pc.replace_with_mask(
            pc.fill_null(text, ""), mask, pa.array(outs, pa.string())
        )

        # a pass-through row holds one plain span over its text unless empty
        lengths = pc.fill_null(pc.utf8_length(text), 0).to_numpy()
        n_spans = np.array(n_spans, np.int32)
        counts = (lengths > 0).astype(np.int32)
        counts[rows] = n_spans
        offsets = np.zeros(n + 1, np.int32)
        np.cumsum(counts, out=offsets[1:])
        span_start = np.zeros(offsets[-1], np.int32)
        span_end = np.empty(offsets[-1], np.int32)
        plain = ~needs & (lengths > 0)
        span_end[offsets[:-1][plain]] = lengths[plain]
        # kernel row j's spans fill offsets[rows[j]] onwards, in order
        at = np.repeat(offsets[rows] - (np.cumsum(n_spans) - n_spans), n_spans)
        at += np.arange(len(starts), dtype=np.int32)
        span_start[at] = starts
        span_end[at] = ends
        kernel_span = np.zeros(offsets[-1], bool)
        kernel_span[at] = True
        struct = pa.StructArray.from_arrays(
            [
                pa.array(span_start),
                pa.array(span_end),
                pc.replace_with_mask(
                    _constant(len(span_start), KIND_PLAIN),
                    pa.array(kernel_span),
                    pa.array(span_kinds, pa.string()),
                ),
            ],
            fields=span_fields,
        )
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("conv_id"),
                pc.cast(batch.column("turn_idx"), pa.int32()),
                out_text_arr,
                pa.ListArray.from_arrays(pa.array(offsets), struct),
                pc.replace_with_mask(
                    _constant(n, STATUS_OK), mask, pa.array(statuses, pa.string())
                ),
                pc.replace_with_mask(
                    _constant(n, KIND_PLAIN), mask, pa.array(kinds, pa.string())
                ),
                pa.array(lengths.astype(np.int64)),
                pc.cast(pc.utf8_length(out_text_arr), pa.int64()),
                _constant(n, EXTRACTOR_VERSION),
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
