"""Byte-exact contract tests for the ordered document fold.

Expected values derived by hand from the reference semantics
(_join_markdown_pages, autoscan/autoscan.py:353-383); the distributed fold
(operators.fold, JVM column expressions) and both streaming folds are checked
against ``join_pages``.
"""

import random
import sys
import time

import pytest
from pyspark.sql import functions as F

from autoscan_spark.kernels.pagejoin import clean_page, join_pages
from autoscan_spark.operators.fold import PY_WHITESPACE, _clean, fold_documents

PY_SPACE = sorted(c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace())


CASES = [
    ([], ""),
    (["only"], "only"),
    (["a", "b"], "a\n\nb"),
    # table continuation: prev ends '|' AND cur starts '|' → single newline
    (["| h1 | h2 |\n| 1 | 2 |", "| 3 | 4 |"], "| h1 | h2 |\n| 1 | 2 |\n| 3 | 4 |"),
    # only one side pipe-ish → double newline
    (["ends with |", "no pipe start"], "ends with |\n\nno pipe start"),
    (["no pipe end", "| starts"], "no pipe end\n\n| starts"),
    # marker scrub + rstrip happens before adjacency
    (["row |---PAGE BREAK---  ", "| next"], "row |\n| next"),
    # empty pages removed BEFORE adjacency: a|b where middle vanishes
    (["| a |", "   \n  ", "| b |"], "| a |\n| b |"),
    (["", "x", ""], "x"),
    (["---PAGE BREAK---", "x"], "x"),
    (["  \n ", "\t"], ""),
    # rstrip only (leading whitespace preserved)
    (["  indented", "next"], "  indented\n\nnext"),
    # marker in the middle of a page
    (["before ---PAGE BREAK--- after", "z"], "before  after\n\nz"),
]


@pytest.mark.parametrize("pages,expected", CASES)
def test_join_pages(pages, expected):
    assert join_pages(pages) == expected


def test_clean_page():
    assert clean_page("x ---PAGE BREAK--- y  \n") == "x  y"
    assert clean_page("---PAGE BREAK---") == ""


def test_whitespace_list_is_pythons():
    assert len(PY_WHITESPACE) == len(set(PY_WHITESPACE)) == 29
    assert set(PY_WHITESPACE) == set(PY_SPACE)


# Page endings where a JVM fold can disagree with Python: every str.isspace()
# code point, look-alikes Python does not strip, Java's $-before-final-\n,
# an astral last character, marker removal that exposes whitespace or must
# not rescan, whitespace-only and empty pages, and table-pipe edges.
EDGE_PAGES = (
    [f"t{c}" for c in PY_SPACE]
    + ["t\u200b", "t\u180e", "t\ufeff", "x\n", "t\U0001F600", "\U0001F600"]
    + ["a \u3000---PAGE BREAK---", "---PAGE ---PAGE BREAK---BREAK---", "---PAGE BREAK---"]
    + [" \t\u3000\n\x85", "", "|", "| a |", "| row", "row |", "|\n"]
)


def _fold_fixture():
    """A few hundred seeded page lists, with every edge page between two
    table pages at least once and one conversation of only empty pages."""
    rng = random.Random(20240)
    convs = {f"e{i:03d}": ["| a |", page, "| b"] for i, page in enumerate(EDGE_PAGES)}
    convs["empty"] = ["", " \u2028", "---PAGE BREAK---", "\t"]
    for i in range(300):
        convs[f"r{i:03d}"] = [
            "".join(rng.choice(EDGE_PAGES) for _ in range(rng.randint(0, 3)))
            for _ in range(rng.randint(1, 9))
        ]
    rows = [
        (cid, turn, page, len(page), len(page))
        for cid, pages in convs.items()
        for turn, page in enumerate(pages, start=1)
    ]
    rng.shuffle(rows)  # the fold must sort, not rely on arrival order
    return rows, {cid: (join_pages(pages), len(pages)) for cid, pages in convs.items()}


@pytest.fixture(scope="module")
def fold_input(spark):
    rows, want = _fold_fixture()
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, in_chars long, out_chars long"
    ).cache()
    df.count()
    yield df, want
    df.unpersist()


def _folded(df):
    return {r["conv_id"]: (r["markdown"], r["n_turns"]) for r in fold_documents(df).collect()}


def test_fold_matches_join_pages(fold_input):
    df, want = fold_input
    assert want["empty"] == ("", 4)
    assert _folded(df) == want


def test_stream_fold_matches_batch_fold(spark, fold_input, tmp_path):
    """Both streaming folds must give every conversation the markdown and
    turn count the batch fold is checked against above: ``fold_documents``
    run as a streaming aggregation, and the expiring keyed-state fold (its
    state's arrays joined by the batch fold's expressions). The expiring
    fold reads a constant ``ts`` behind a watermark, so its timeout never
    fires."""
    from datetime import datetime

    from autoscan_spark.operators.extract import drop_failed
    from autoscan_spark.streaming.stateful import stream_fold_documents

    df, want = fold_input
    src = str(tmp_path / "src")
    ok = df.withColumn("status", F.lit("ok")).withColumn("ts", F.lit(datetime(2024, 1, 1)))
    ok.write.parquet(src)
    folds = {
        "aggregation": lambda s: fold_documents(drop_failed(s)),
        "expiring": lambda s: stream_fold_documents(
            s.withWatermark("ts", "10 minutes"), idle_timeout_ms=60 * 60 * 1000
        ),
    }
    for name, fold in folds.items():
        latest = {}

        def collect_batch(batch_df, batch_id):
            for r in batch_df.collect():  # update mode: later emissions win
                latest[r["conv_id"]] = (r["markdown"], r["n_turns"])

        q = (
            fold(spark.readStream.schema(ok.schema).parquet(src))
            .writeStream.foreachBatch(collect_batch)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert latest == want, name


def test_page_clean_is_linear_in_whitespace_runs(spark):
    """The right-strip regex must not rescan a whitespace run once per
    position: doubling the run may at most ~double the time (measured with
    the run inside the page and at its end)."""

    def best_time(page):
        df = spark.createDataFrame([(page,)], "t string").cache()
        df.count()
        out = df.select(F.length(F.expr(_clean("t"))).alias("n"))
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = out.first()["n"]
            times.append(time.perf_counter() - t0)
        df.unpersist()
        assert n == len(clean_page(page))
        return min(times)

    for make in (lambda n: " \u3000" * (n // 2) + "x ", lambda n: "x" + "\t " * (n // 2)):
        t_n, t_2n = best_time(make(200_000)), best_time(make(400_000))
        assert t_2n <= 2.5 * t_n, (t_n, t_2n)
