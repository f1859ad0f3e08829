"""Deterministic transcript synthesis.

Two generators, both seeded and partition-order independent:

1. ``transcripts_from_documents`` — SQL-replicable chunking of the driver's
   ``documents`` table into turns (fixed-width substrings). Used by the
   ``queries()``/``oracle_sql()`` driver contract because DuckDB can compute
   the identical table, making every downstream operator oracle-checkable.

2. ``synthesize_transcripts`` — the rich fixture corpus from FIXTURES.md §2:
   one payload class per conversation (plain / html_boilerplate / pdf_stream /
   tool_markup / table_continuation / nested_list / fenced /
   page_break_marker / empty / error / range), generated distributively with
   a per-conversation seed so output is identical at any parallelism. This is
   the corpus for pytest goldens, the hot-conversation fold test and bench.py.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

_BASE_TS = datetime(2026, 1, 1)

# ---------------------------------------------------------------------------
# 1. SQL-replicable chunking of documents → transcripts
# ---------------------------------------------------------------------------

CHUNK_CHARS = 120

# DuckDB equivalent of transcripts_from_documents, kept adjacent to the Spark
# code so the two can never drift. Both engines use 1-based substr with the
# same out-of-range clamping semantics.
TRANSCRIPTS_FROM_DOCUMENTS_DUCKDB = f"""
SELECT
  CAST(d.doc_id AS VARCHAR)                             AS conv_id,
  CAST(t.i AS INTEGER)                                  AS turn_idx,
  CASE WHEN t.i % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
  substr(d.text, ((t.i - 1) * {CHUNK_CHARS}) + 1, {CHUNK_CHARS}) AS text,
  ''                                                    AS tool,
  TIMESTAMP '2026-01-01 00:00:00' + t.i * INTERVAL 1 SECOND AS ts
FROM documents d,
     LATERAL (
       SELECT unnest(generate_series(1,
         CAST(ceil(length(d.text) / {CHUNK_CHARS}.0) AS INTEGER))) AS i
     ) t
"""


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk documents.text into fixed-width turns (SQL-replicable)."""
    import os

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    w = CHUNK_CHARS
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, cast(ceil(length(text) / {w}.0) as int)),"
                    f" i -> substr(text, (i - 1) * {w} + 1, {w}))"
                )
            ).alias("pos", "text"),
        )
        .select(
            "conv_id",
            (F.col("pos") + 1).cast("int").alias("turn_idx"),
            F.when((F.col("pos") + 1) % 2 == 1, F.lit("user"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            "text",
            F.lit("").alias("tool"),
            (
                F.lit("2026-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=(F.col("pos") + 1).cast("double"))
            ).alias("ts"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Fixture corpus (FIXTURES.md §2) — per-conversation seeded generation
# ---------------------------------------------------------------------------

PAYLOAD_CLASSES = (
    "plain",
    "html_boilerplate",
    "pdf_stream",
    "tool_markup",
    "table_continuation",
    "nested_list",
    "fenced",
    "page_break_marker",
    "empty",
    "error",
    "range",
)

_WORDS = (
    "spark arrow shuffle partition executor catalyst tungsten parquet iceberg "
    "window batch stream kernel markdown extraction boilerplate density salting "
    "lineage checkpoint transcript conversation turn document table column"
).split()


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _gen_plain(rng: random.Random, n_turns: int) -> List[str]:
    return [_sentence(rng, rng.randint(8, 20)) + "." for _ in range(n_turns)]


def _gen_html(rng: random.Random, n_turns: int) -> List[str]:
    out = []
    for _ in range(n_turns):
        body = _sentence(rng, rng.randint(12, 25))
        nav = " ".join(f"<a href='/{w}'>{w}</a>" for w in rng.sample(_WORDS, 4))
        out.append(
            f"<html><body><nav>{nav}</nav><h2>{_sentence(rng, 3)}</h2>"
            f"<p>{body} extracted main content block.</p>"
            f"<footer>copyright {rng.randint(2000, 2026)} corp</footer></body></html>"
        )
    return out


def _gen_pdf(rng: random.Random, n_turns: int) -> List[str]:
    out = []
    for _ in range(n_turns):
        lines = [f"%PDF-STREAM v1"]
        y = 700.0
        records = []
        for _para in range(rng.randint(1, 3)):
            for _line in range(rng.randint(2, 4)):
                records.append((10.0, y, _sentence(rng, rng.randint(4, 8))))
                y -= 12.0
            y -= 24.0  # paragraph gap
        rng.shuffle(records)
        lines += [f"{x};{yy};{t}" for x, yy, t in records]
        out.append("\n".join(lines))
    return out


def _gen_tool(rng: random.Random, n_turns: int) -> List[str]:
    out = []
    for _ in range(n_turns):
        out.append(
            f"{_sentence(rng, 8)}.\n```json\n{{\"k\": {rng.randint(0, 99)}}}\n```\n"
            f"Result summary: {_sentence(rng, 6)}."
        )
    return out


def _gen_table(rng: random.Random, n_turns: int) -> List[str]:
    header = "| metric | value |\n|---|---|"
    pages = [header + f"\n| m{rng.randint(0, 9)} | {rng.randint(0, 99)} |"]
    for _ in range(n_turns - 1):
        pages.append(f"| m{rng.randint(0, 9)} | {rng.randint(0, 99)} |")
    return pages


def _gen_list(rng: random.Random, n_turns: int) -> List[str]:
    pages = []
    for _ in range(n_turns):
        items = "\n".join(
            f"{'  ' * rng.randint(0, 2)}- {_sentence(rng, 3)}" for _ in range(3)
        )
        pages.append(items)
    return pages


def _gen_fenced(rng: random.Random, n_turns: int) -> List[str]:
    tags = ["", "markdown", "md"]
    return [
        f"```{rng.choice(tags)}\n{_sentence(rng, 10)}.\n```" for _ in range(n_turns)
    ]


def _gen_marker(rng: random.Random, n_turns: int) -> List[str]:
    return [
        f"{_sentence(rng, 6)} ---PAGE BREAK--- {_sentence(rng, 6)}"
        for _ in range(n_turns)
    ]


def _gen_empty(rng: random.Random, n_turns: int) -> List[str]:
    return [
        ("   \n  " if i % 2 == 1 else _sentence(rng, 10) + ".")
        for i in range(n_turns)
    ]


def _gen_error(rng: random.Random, n_turns: int) -> List[str]:
    # every 3rd turn is a malformed pdf stream → kernel error
    return [
        ("%PDF-STREAM v1\nmalformed record without separators"
         if i % 3 == 2
         else _sentence(rng, 10) + ".")
        for i in range(n_turns)
    ]


_GENERATORS = {
    "plain": _gen_plain,
    "html_boilerplate": _gen_html,
    "pdf_stream": _gen_pdf,
    "tool_markup": _gen_tool,
    "table_continuation": _gen_table,
    "nested_list": _gen_list,
    "fenced": _gen_fenced,
    "page_break_marker": _gen_marker,
    "empty": _gen_empty,
    "error": _gen_error,
    "range": _gen_plain,  # long conversation; range filter applied by caller
}


def payload_class_for(conv_num: int) -> str:
    return PAYLOAD_CLASSES[conv_num % len(PAYLOAD_CLASSES)]


def gen_conversation(conv_num: int, seed: int = 42, skew_turns: int | None = None):
    """Generate one conversation's rows, deterministic in (conv_num, seed).

    Returns list of (conv_id, turn_idx, role, text, tool, ts) tuples.
    """
    cls = payload_class_for(conv_num)
    rng = random.Random((seed << 20) ^ conv_num)
    if skew_turns is not None:
        n_turns = skew_turns
    elif cls == "range":
        n_turns = rng.randint(60, 120)
    else:
        n_turns = rng.randint(2, 10)
    texts = _GENERATORS[cls](rng, n_turns)
    conv_id = f"c{conv_num:08d}-{cls}"
    rows = []
    for i, text in enumerate(texts, start=1):
        role = "tool" if cls == "tool_markup" else ("user" if i % 2 == 1 else "assistant")
        rows.append(
            (
                conv_id,
                i,
                role,
                text,
                "shell" if role == "tool" else "",
                _BASE_TS + timedelta(seconds=i),
            )
        )
    return rows


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    parallelism: int | None = None,
    skew_conv_turns: int | None = None,
) -> DataFrame:
    """Distributed fixture corpus: `n_convs` conversations, mixed payload
    classes; optionally one pathological `skew_conv_turns`-turn conversation
    (conv_num = n_convs) to exercise the fold of one hot conversation.

    Generation is per-conversation seeded → identical output at any
    parallelism or partitioning.
    """
    parallelism = parallelism or spark.sparkContext.defaultParallelism

    ids = spark.range(0, n_convs, 1, parallelism).select(
        F.col("id").cast("int").alias("conv_num")
    )
    if skew_conv_turns:
        ids = ids.union(
            spark.range(n_convs, n_convs + 1).select(
                F.col("id").cast("int").alias("conv_num")
            )
        )

    n_skew = skew_conv_turns

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_num in pdf["conv_num"]:
                conv_num = int(conv_num)
                skew = n_skew if (n_skew and conv_num == n_convs) else None
                rows.extend(gen_conversation(conv_num, seed=seed, skew_turns=skew))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )

    return ids.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
