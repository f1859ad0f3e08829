"""End-to-end pipeline tests on local Spark.

The golden oracle is computed driver-side with the pure kernels (which are
themselves pinned byte-exactly by tests/test_fences.py etc.) applied to the
same fixture rows — so these tests pin the DISTRIBUTED semantics: ordering
under shuffles, mode behavior, error handling, fold equivalence.
"""

import pandas as pd
import pytest

from autoscan_spark.kernels.dispatch import extract_turn
from autoscan_spark.kernels.pagejoin import join_pages
from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.operators.metrics import conversation_metrics
from autoscan_spark.plans.pipeline import extract_pipeline
from autoscan_spark.sources.transcripts import (
    gen_conversation,
    synthesize_transcripts,
)

N_CONVS = 33  # 3 conversations per payload class


@pytest.fixture(scope="module")
def transcripts(spark):
    # shuffled row order: never rely on storage order
    from pyspark.sql import functions as F

    df = synthesize_transcripts(spark, N_CONVS, seed=42).orderBy(F.rand(7))
    df = df.cache()
    df.count()
    return df


def _golden_rows(n_convs, mode):
    """Driver-side oracle: pure kernels over the same generated fixtures."""
    per_turn = {}
    per_doc = {}
    for conv_num in range(n_convs):
        rows = gen_conversation(conv_num, seed=42)
        prev = None
        outs = []
        for conv_id, turn_idx, role, text, _tool, _ts in rows:
            out, spans, status, kind = extract_turn(
                text, role, prev if mode == "high" else None
            )
            if mode == "high" and status != "ok":
                per_doc[conv_id] = None  # would fail fast
                break
            if status == "ok":
                outs.append(out)
                per_turn[(conv_id, turn_idx)] = (out, status)
                if mode == "high":
                    prev = out
            else:
                per_turn[(conv_id, turn_idx)] = (out, status)
        else:
            per_doc[conv_id] = join_pages(outs)
    return per_turn, per_doc


def test_low_mode_matches_golden(spark, transcripts):
    per_turn, per_doc = _golden_rows(N_CONVS, "low")

    extracted, docs = extract_pipeline(transcripts, mode="low")
    got_turns = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["status"])
        for r in extracted.collect()
    }
    ok_golden = {k: v for k, v in per_turn.items() if v[1] == "ok"}
    got_ok = {k: v for k, v in got_turns.items() if v[1] == "ok"}
    assert got_ok == ok_golden
    # error rows present with error status
    err_golden = {k for k, v in per_turn.items() if v[1] != "ok"}
    assert {k for k, v in got_turns.items() if v[1] != "ok"} == err_golden
    assert len(err_golden) > 0  # the 'error' payload class must exercise this

    got_docs = {r["conv_id"]: r["markdown"] for r in docs.collect()}
    assert got_docs == {k: v for k, v in per_doc.items() if v is not None}


def test_high_mode_serial_context(spark):
    """High mode threads lag-1 output context; verify on a table-continuation
    conversation where the dedupe rule actually fires."""
    rows = [
        ("c1", 1, "user", "| a | b |\n|---|---|\n| 1 | 2 |", "", None),
        ("c1", 2, "user", "| a | b |\n|---|---|\n| 3 | 4 |", "", None),
        ("c1", 3, "user", "| a | b |\n|---|---|\n| 5 | 6 |", "", None),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    extracted, docs = extract_pipeline(df, mode="high")
    texts = {r["turn_idx"]: r["extracted_text"] for r in extracted.collect()}
    assert texts[1] == "| a | b |\n|---|---|\n| 1 | 2 |"
    assert texts[2] == "| 3 | 4 |"
    assert texts[3] == "| 5 | 6 |"
    md = docs.collect()[0]["markdown"]
    assert md == "| a | b |\n|---|---|\n| 1 | 2 |\n| 3 | 4 |\n| 5 | 6 |"


# Hand-built conversations where the lag-1 context rule fires (the synthetic
# corpus never triggers it). With two rows per Arrow batch in one sorted
# partition, batch boundaries sit before every even position, so each case
# is built to straddle one whatever the alignment the corpus leaves.
_CONTEXT_CONVS = {
    # table continuation: the rule fires on every adjacent pair
    "zz-table": [
        "| a | b |\n|---|---|\n| 1 | 2 |",
        "| a | b |\n|---|---|\n| 3 | 4 |",
        "| a | b |\n|---|---|\n| 5 | 6 |",
    ],
    # repeated heading: fires on turns 2 and 5, positions of opposite parity
    "zz-heading": ["# H\na", "# H\nb", "c", "# G\nd", "# G\ne"],
    # adjacent conversations: a's last output must not reach b's first turn,
    # nor c's reach d's (again positions of opposite parity)
    "zz-leak-a": ["# H\nx"],
    "zz-leak-b": ["# H\ny"],
    "zz-leak-c": ["pad", "# G\nz"],
    "zz-leak-d": ["# G\nv"],
}


def _serial_golden(rows):
    """Driver-side high-mode oracle over arbitrary transcript rows: each
    conversation's turns in turn_idx order, threading the previous output."""
    by_conv = {}
    for conv_id, turn_idx, role, text, _tool, _ts in rows:
        by_conv.setdefault(conv_id, []).append((turn_idx, role, text))
    per_turn = {}
    per_doc = {}
    for conv_id, turns in by_conv.items():
        prev = None
        outs = []
        for turn_idx, role, text in sorted(turns):
            prev, _spans, status, _kind = extract_turn(text, role, prev)
            assert status == "ok", (conv_id, turn_idx, status)
            per_turn[(conv_id, turn_idx)] = prev
            outs.append(prev)
        per_doc[conv_id] = join_pages(outs)
    return per_turn, per_doc


def test_high_mode_context_across_batches_and_conversations(spark):
    """High mode threads context across Arrow batch boundaries within a
    conversation and never across conversations, on a shuffled corpus run
    at two rows per Arrow batch in a single partition."""
    from pyspark.sql import functions as F

    corpus = synthesize_transcripts(spark, N_CONVS, seed=42).filter(
        ~F.col("conv_id").endswith("-error")
    )
    hand = [
        (conv_id, i + 1, "user", text, "", None)
        for conv_id, texts in _CONTEXT_CONVS.items()
        for i, text in enumerate(texts)
    ]
    rows = [
        r
        for n in range(N_CONVS)
        for r in gen_conversation(n, seed=42)
        if not r[0].endswith("-error")
    ] + hand
    per_turn, per_doc = _serial_golden(rows)
    # the cases exercise the rule: firing where built to, nowhere else
    assert per_turn[("zz-table", 3)] == "| 5 | 6 |"
    assert per_turn[("zz-heading", 2)] == "b"
    assert per_turn[("zz-heading", 5)] == "e"
    assert per_turn[("zz-leak-b", 1)] == "# H\ny"
    assert per_turn[("zz-leak-d", 1)] == "# G\nv"

    df = corpus.unionByName(spark.createDataFrame(hand, schema=corpus.schema))
    df = df.orderBy(F.rand(7))
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2",
        "spark.sql.shuffle.partitions": "1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        extracted, docs = extract_pipeline(df, mode="high")
        got_turns = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in extracted.collect()
        }
        got_docs = {r["conv_id"]: r["markdown"] for r in docs.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got_turns == per_turn
    assert got_docs == per_doc


def test_high_mode_fails_fast_on_error(spark):
    rows = [
        ("c1", 1, "user", "fine text", "", None),
        ("c1", 2, "user", "%PDF-STREAM v1\nbroken", "", None),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    extracted = extract_turns(df, mode="high")
    with pytest.raises(
        Exception, match="extraction failed in high.*conv_id=c1 turn_idx=2"
    ):
        extracted.collect()


def test_turn_range_pushdown(spark, transcripts):
    extracted = extract_turns(transcripts, mode="low", first_turn=2, last_turn=3)
    idxs = {r["turn_idx"] for r in extracted.select("turn_idx").distinct().collect()}
    assert idxs <= {2, 3}
    # the range predicate must reach the scan, not sit above the kernel
    plan = extracted._jdf.queryExecution().executedPlan().toString()
    assert "turn_idx" in plan


def test_conversation_metrics(spark, transcripts):
    extracted = extract_turns(transcripts, mode="low")
    m = conversation_metrics(extracted)
    row = m.filter(m.conv_id.startswith("c00000000-")).collect()[0]
    assert row["n_turns"] > 0
    assert row["total_in_chars"] > 0
    assert abs(row["avg_in_chars"] - row["total_in_chars"] / row["n_turns"]) < 1e-9


def test_polish_pass(spark):
    from autoscan_spark.operators.polish import polish_markdown

    assert polish_markdown("word-\n\nlower rest") == "wordlower rest"
    assert polish_markdown("| a |\n\n| b |") == "| a |\n| b |"
    assert polish_markdown("# T\n# T\nbody") == "# T\nbody"
    assert polish_markdown("a\n\n\n\nb") == "a\n\nb"
