"""Per-conversation ordered document fold.

Reference contract: ``_join_markdown_pages`` (autoscan/autoscan.py:353-383),
mirrored in Python by ``kernels.pagejoin`` — empty-page filtering
and the adjacency-dependent separator must happen inside ONE ordered fold
(the separator depends on post-filter neighbors).

Physical design: the whole fold runs in the JVM, so the low pipeline crosses
into Python once (the extraction ``mapInArrow``), not twice. Its expressions
are SQL fragments (``_clean``, ``_join``, in ``operators.sqlutil``'s style)
that the engine parses in one call each, instead of Column trees built one
gateway round trip per node: the fold costs a few dozen py4j calls to build,
not several hundred. A stream runs this same fold as a streaming aggregation
in update mode; the event-time-expiring stream fold (``streaming.stateful``)
keeps pages cleaned by ``_clean`` in keyed state and joins them with
``_join``.

1. Map-side, before the aggregation, each page is cleaned (``_clean``: marker
   scrub + a ``str.rstrip()``-exact right-strip).
2. ``groupBy(conv_id)`` + ``array_sort(collect_list(struct(turn_idx,
   text)))``, with an empty page's struct null — ``collect_list`` skips the
   nulls, so empty pages never enter the buffer. A checkpoint wave's input is
   already clustered by bucket; there the key is ``(bucket, conv_id)`` and
   the aggregation needs no shuffle.
3. ``_join``: a ``transform`` over the sorted array picks each separator from
   the previous surviving page's last and the current page's first character,
   then ``array_join`` concatenates.

Scale note: a conversation's pages meet in one aggregation buffer and its
document is one output row, so the longest conversation's document must fit
in one task's heap.

``n_turns`` counts the successfully extracted turns entering the fold
(reference: pages processed = len(aggregated_markdown),
autoscan/autoscan.py:165,174), i.e. BEFORE empty-page filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from autoscan_spark.kernels.pagejoin import PAGE_BREAK, PY_WHITESPACE, WS_CLASS
from autoscan_spark.operators.sqlutil import qident, qlit

DOC_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("markdown", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("in_chars", LongType()),
        StructField("out_chars", LongType()),
    ]
)

# WS_CLASS matches what str.rstrip() strips (Java's \s is ASCII-only).
# \z, not $: Java's $ also matches before a final line terminator. The
# lookbehind makes only the start of each whitespace run a match candidate,
# so a long internal run is scanned once instead of once per position.
_RSTRIP = f"(?<!{WS_CLASS}){WS_CLASS}+\\z"


_WS_LITERALS = ", ".join(map(qlit, PY_WHITESPACE))


def _clean(sql: str) -> str:
    """SQL fragment: ``kernels.pagejoin.clean_page`` of the SQL expression
    ``sql`` (pass a column through ``qident`` first).

    The regex runs only when there is something to strip: the text holds the
    marker (whose removal can expose trailing whitespace) or ends in
    whitespace. Extracted text is already right-stripped by the kernel, so
    almost every page passes through untouched.
    """
    marker = qlit(PAGE_BREAK)
    return (
        f"CASE WHEN contains({sql}, {marker}) OR substring({sql}, -1, 1) IN ({_WS_LITERALS}) "
        f"THEN regexp_replace(replace({sql}, {marker}, ''), {qlit(_RSTRIP)}, '') "
        f"ELSE {sql} END"
    )


def _join(items: str) -> str:
    """SQL fragment: join the ``text`` fields of an ordered array of structs
    with the reference separator: ``"\\n"`` when the previous text ends with
    ``|`` and the current one starts with ``|``, otherwise ``"\\n\\n"``.
    Every text must be non-empty; ``items`` must be a column reference (the
    lambda indexes it once per element)."""
    sep = (
        "CASE WHEN i = 0 THEN '' "
        f"WHEN endswith({items}[i - 1].text, '|') AND startswith(x.text, '|') THEN '\\n' "
        "ELSE '\\n\\n' END"
    )
    return f"array_join(transform({items}, (x, i) -> concat({sep}, x.text)), '')"


def fold_documents(extracted: DataFrame, clustered_by: str | None = None) -> DataFrame:
    """Fold extracted turns into one markdown row per conversation.

    Input must contain conv_id, turn_idx, extracted_text, in_chars, out_chars
    (failed rows should already be dropped / have failed the job).

    ``clustered_by`` names a column that is a function of conv_id (the
    checkpoint bucket). It leads the grouping key and is carried as the last
    output column, so an input already hash-partitioned by it folds with no
    shuffle.
    """
    keys = ["conv_id"] if clustered_by is None else [clustered_by, "conv_id"]
    qkeys = list(map(qident, keys))
    pages = extracted.selectExpr(
        *qkeys, "turn_idx", f"{_clean('extracted_text')} AS text", "in_chars", "out_chars"
    )
    # an empty page becomes null, which collect_list skips
    return pages.groupBy(*keys).agg(
        F.expr("array_sort(collect_list(CASE WHEN text != '' THEN struct(turn_idx, text) END)) AS __items"),
        F.expr("CAST(count(*) AS INT) AS n_turns"),
        F.expr("CAST(sum(in_chars) AS BIGINT) AS in_chars"),
        F.expr("CAST(sum(out_chars) AS BIGINT) AS out_chars"),
    ).selectExpr(
        "conv_id", f"{_join('__items')} AS markdown", "n_turns", "in_chars", "out_chars", *qkeys[:-1]
    )
