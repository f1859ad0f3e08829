"""Whole-document consolidation ("polish") pass.

Reference G1 (autoscan/llm_processors/markdown_consolidator.py:33-78 +
orchestration autoscan/autoscan.py:121-153): an optional second whole-document
pass that restores structure; on ANY failure it falls back to the unpolished
content (autoscan/autoscan.py:149-151), and empty content short-circuits
(markdown_consolidator.py:54-56).

Deterministic restoration kernel (frozen, ``polish-v1``):

1. Hyphenation repair across page boundaries: ``xyz-\n\nabc`` where ``abc``
   starts lowercase merges to ``xyzabc``.
2. Consecutive duplicate heading lines collapse to one (header dedupe across
   joined pages — the polish prompt's "deduplicate repeated headers").
3. Table re-stitch: a blank line between two ``|``-rows is removed so a table
   split by a page join becomes contiguous.
4. Runs of 3+ newlines collapse to 2.

Runs as a second vectorized pass over the (already tiny, one row per
conversation) doc_markdown DataFrame — per-document rows, so even at 10^12
turns this stage is ~10^8-10^9 rows and embarrassingly parallel.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from autoscan_spark.operators.extract import _drop_zip_finders

_HYPHEN_JOIN = re.compile(r"(\w)-\n\n([a-z])")
_TABLE_STITCH = re.compile(r"(\|)\n\n(\|)")
_COLLAPSE = re.compile(r"\n{3,}")


def polish_markdown(markdown: str) -> str:
    """Pure polish kernel; raises only on non-string input (fallback path)."""
    out = _HYPHEN_JOIN.sub(r"\1\2", markdown)
    out = _TABLE_STITCH.sub(r"\1\n\2", out)

    lines = out.split("\n")
    kept = []
    prev_heading = None
    for line in lines:
        if line.startswith("#"):
            if line == prev_heading:
                continue
            prev_heading = line
        elif line.strip():
            prev_heading = None
        kept.append(line)
    out = "\n".join(kept)

    return _COLLAPSE.sub("\n\n", out)


def polish_documents(docs: DataFrame) -> DataFrame:
    """Apply the polish kernel to doc_markdown rows, with per-row fallback to
    the original markdown on kernel failure and a skip for empty content."""

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _drop_zip_finders()
        for pdf in batches:
            def one(md):
                if md is None or not md.strip():
                    return md  # empty short-circuit (markdown_consolidator.py:54-56)
                try:
                    return polish_markdown(md)
                except Exception:
                    return md  # fallback (autoscan/autoscan.py:149-151)

            pdf = pdf.copy()
            pdf["markdown"] = pdf["markdown"].map(one)
            yield pdf
        _drop_zip_finders()

    return docs.mapInPandas(apply, schema=docs.schema)
