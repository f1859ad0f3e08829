"""In-process kernel microbench (no Spark) on a workload's own rows: the
per-turn extraction kernel by payload kind, the page fold, the lag-1 context
rule and the polish pass."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from autoscan_spark.kernels.dispatch import apply_context, extract_turn
from autoscan_spark.kernels.pagejoin import join_pages
from autoscan_spark.operators.polish import polish_markdown
from perfbench.workloads import KINDS, Reference

REPS = 3


def _us_per_item(fn, items, n=None) -> float:
    """Median over REPS of the time of ``fn(items)``, in µs per item."""
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn(items)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e6 / (n if n is not None else len(items))


def _extract_all(rows):
    for text, role in rows:
        extract_turn(text, role)


def _join_all(page_lists):
    for pages in page_lists:
        join_pages(pages)


def _context_all(pairs):
    for prev, out in pairs:
        apply_context(prev, out)


def _polish_all(docs):
    for md in docs:
        polish_markdown(md)


def kernel_metrics(rows: list[tuple], ref: Reference, tracer) -> dict:
    by_kind = defaultdict(list)
    outputs = defaultdict(list)  # conv_id -> outputs in turn order
    for conv_id, turn_idx, role, text, _tool, _ts in sorted(rows, key=lambda r: (r[0], r[1])):
        out, _status, kind = ref.turns[(conv_id, turn_idx)]
        by_kind[kind].append((text, role))
        outputs[conv_id].append(out)
    m = {f"kernels.turns.{k}": len(by_kind.get(k, ())) for k in KINDS}
    m["kernels.turns.error"] = ref.errors
    with tracer.span("kernels"):
        for kind in KINDS:
            if by_kind.get(kind):
                with tracer.span(f"kernels.{kind}"):
                    m[f"kernels.us_per_turn.{kind}"] = _us_per_item(_extract_all, by_kind[kind])
        page_lists = list(ref.pages.values())
        with tracer.span("kernels.join_pages"):
            m["kernels.join_pages_us_per_turn"] = _us_per_item(_join_all, page_lists, sum(map(len, page_lists)))
        pairs = [(o[i - 1], o[i]) for o in outputs.values() for i in range(1, len(o))]
        with tracer.span("kernels.apply_context"):
            m["kernels.apply_context_us_per_turn"] = _us_per_item(_context_all, pairs)
        docs = [md for md in ref.docs.values() if md.strip()]
        with tracer.span("kernels.polish"):
            m["kernels.polish_us_per_doc"] = _us_per_item(_polish_all, docs)
    return m
