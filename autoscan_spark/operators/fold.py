"""Per-conversation ordered document fold.

Reference contract: ``_join_markdown_pages`` (autoscan/autoscan.py:353-383),
mirrored in Python by ``kernels.pagejoin`` — empty-page filtering
and the adjacency-dependent separator must happen inside ONE ordered fold
(the separator depends on post-filter neighbors).

Physical design: the whole fold is JVM column expressions, so the low
pipeline crosses into Python once (the extraction ``mapInArrow``), not twice.
A stream runs this same fold as a streaming aggregation in update mode; the
event-time-expiring stream fold (``streaming.stateful``) keeps pages cleaned
by ``_clean`` in keyed state and joins them with ``_join``.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from autoscan_spark.kernels.pagejoin import PAGE_BREAK

DOC_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("markdown", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("in_chars", LongType()),
        StructField("out_chars", LongType()),
    ]
)

# The code points for which Python's str.isspace() is true, i.e. exactly what
# str.rstrip() strips (Java's \s is ASCII-only).
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_WS_CLASS = "[" + "".join(f"\\x{{{ord(c):x}}}" for c in PY_WHITESPACE) + "]"
# \z, not $: Java's $ also matches before a final line terminator. The
# lookbehind makes only the start of each whitespace run a match candidate,
# so a long internal run is scanned once instead of once per position.
_RSTRIP = f"(?<!{_WS_CLASS}){_WS_CLASS}+\\z"


def _clean(text: Column) -> Column:
    """``kernels.pagejoin.clean_page`` as a column expression.

    The regex runs only when there is something to strip: the text holds the
    marker (whose removal can expose trailing whitespace) or ends in
    whitespace. Extracted text is already right-stripped by the kernel, so
    almost every page passes through untouched.
    """
    return F.when(
        text.contains(PAGE_BREAK) | F.substring(text, -1, 1).isin(*PY_WHITESPACE),
        F.regexp_replace(F.replace(text, F.lit(PAGE_BREAK), F.lit("")), _RSTRIP, ""),
    ).otherwise(text)


def _join(items: Column) -> Column:
    """Join the ``text`` fields of an ordered array of structs with the
    reference separator: ``"\\n"`` when the previous text ends with ``|`` and
    the current one starts with ``|``, otherwise ``"\\n\\n"``. Every text must
    be non-empty; ``items`` must be a column reference (the lambda indexes it
    once per element)."""

    def piece(x: Column, i: Column) -> Column:
        sep = (
            F.when(i == 0, F.lit(""))
            .when(items[i - 1]["text"].endswith("|") & x["text"].startswith("|"), F.lit("\n"))
            .otherwise(F.lit("\n\n"))
        )
        return F.concat(sep, x["text"])

    return F.array_join(F.transform(items, piece), "")


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
    pages = extracted.select(
        *keys, "turn_idx", _clean(F.col("extracted_text")).alias("text"), "in_chars", "out_chars"
    )
    # an empty page becomes null, which collect_list skips
    item = F.when(F.col("text") != "", F.struct("turn_idx", "text"))
    return pages.groupBy(*keys).agg(
        F.array_sort(F.collect_list(item)).alias("__items"),
        F.count("*").cast("int").alias("n_turns"),
        F.sum("in_chars").cast("long").alias("in_chars"),
        F.sum("out_chars").cast("long").alias("out_chars"),
    ).select(
        "conv_id", _join(F.col("__items")).alias("markdown"), "n_turns", "in_chars", "out_chars", *keys[:-1]
    )
