"""End-to-end extraction pipeline (the reference's orchestrator, U2:
autoscan/autoscan.py:19-213, as a DataFrame DAG).

    transcripts scan (filter pushdown on turn range)
      → extract kernel   (one mapInArrow kernel — low: over the scan,
                          shuffle-free | high: over turns partitioned by
                          conversation and sorted by turn_idx)
      → error handling   (low: drop failed | high: already failed fast)
      → ordered fold     (JVM expressions, one shuffle)
      → optional polish  (second per-document kernel pass with fallback)

Plan shape at scale: low mode has exactly ONE shuffle (the fold's groupBy).
High mode has TWO: the repartition by conv_id feeding the serial kernel,
then the fold's groupBy. The second is cheap in rows — the fold's partial
collect_list completes inside the already conversation-grouped partitions,
so it moves one row per conversation, not raw turns (pinned by
tests/test_plans.py::test_high_pipeline_shuffle_budget).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame

from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.operators.polish import polish_documents


def extract_pipeline(
    transcripts: DataFrame,
    mode: str = "low",
    first_turn: int | None = None,
    last_turn: int | None = None,
    polish: bool = False,
) -> Tuple[DataFrame, DataFrame]:
    """Run extraction + fold; returns ``(extracted, doc_markdown)``.

    Both returned DataFrames are lazy — callers pick the actions (write,
    count, collect), so extracted and doc outputs can share one scan when the
    caller caches or writes ``extracted`` first.
    """
    extracted = extract_turns(
        transcripts, mode=mode, first_turn=first_turn, last_turn=last_turn
    )
    ok = drop_failed(extracted) if mode == "low" else extracted
    docs = fold_documents(ok)
    if polish:
        docs = polish_documents(docs)
    return extracted, docs
