"""The four workloads: seeded inputs, the action each timed run performs, and
the in-process reference every checked pass is compared with.

Inputs are made with ``sources.transcripts.gen_conversation``, the
per-conversation generator that ``synthesize_transcripts`` maps over, so a
workload's rows equal ``synthesize_transcripts(spark, n, seed)`` (the traced
run checks this) while set-up needs no Spark job. They are written to
parquet before anything is timed; the program only ever reads that parquet.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter, defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from autoscan_spark.kernels.dispatch import STATUS_OK, extract_turn
from autoscan_spark.kernels.pagejoin import join_pages
from autoscan_spark.operators.polish import polish_markdown
from autoscan_spark.sources.transcripts import PAYLOAD_CLASSES, gen_conversation, payload_class_for
from perfbench.session import noop
from perfbench.xxh64 import bucket_of

N_BUCKETS = 64
MARKUP_CLASSES = ("html_boilerplate", "pdf_stream", "tool_markup")
KINDS = ("plain", "html", "pdf", "tool")
EXTRACT_COLS = ("conv_id", "turn_idx", "role", "text")

_INPUT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int  # conversations in the input
    mode: str = "low"
    polish: bool = False
    checkpoint: bool = False
    classes: tuple[str, ...] | None = None  # payload classes kept (None = all)
    scaling: bool = False  # traced run also measures the one-slot baseline
    # untimed runs after the checked pass, and timed runs, at the least: a
    # run whose wall is mostly fixed per-job cost keeps speeding up for
    # several runs, so its warm-up is counted in runs, not seconds
    warmup_runs: int = 1
    min_timed_runs: int = 1
    max_slots: int | None = None  # caps --slots for this workload

    def conv_nums(self) -> list[int]:
        if self.classes is None:
            return list(range(self.n_convs))
        out, c = [], 0
        while len(out) < self.n_convs:
            if payload_class_for(c) in self.classes:
                out.append(c)
            c += 1
        return out


# 4000 conversations (~54k turns) keep a mixed_fold run near 1.3 s, so a
# 10 s measurement holds several; resume_job reads the same corpus, so its
# extra cost is the write side alone. markup_fold holds only the kernel-bound
# payload classes, high_polish drops the conversations made to fail, which
# high mode would turn into a failed job.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("mixed_fold", n_convs=4000, scaling=True),
        Workload("markup_fold", n_convs=8000, classes=MARKUP_CLASSES),
        # resume_job's wall is mostly per-job and per-file cost: every task
        # writes a file per bucket, so at three slots it ran slower than at
        # two, with a third of the CPU idle
        Workload("resume_job", n_convs=4000, checkpoint=True, warmup_runs=3, min_timed_runs=3, max_slots=2),
        Workload(
            "high_polish",
            n_convs=3636,  # conversation numbers 0..3999 minus the '-error' ones
            mode="high",
            polish=True,
            classes=tuple(c for c in PAYLOAD_CLASSES if c != "error"),
        ),
    )
}


# --- inputs ---------------------------------------------------------------


def generate_rows(w: Workload, seed: int) -> list[tuple]:
    rows = []
    for c in w.conv_nums():
        rows.extend(gen_conversation(c, seed=seed))
    return rows


def write_input(rows: list[tuple], dest: str, n_files: int) -> int:
    """Write ``rows`` as ``n_files`` parquet files of whole conversations,
    in generation order; returns the bytes written."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), _INPUT_SCHEMA)],
        schema=_INPUT_SCHEMA,
    )
    conv = table.column("conv_id").to_pylist()
    bounds = [0]
    for k in range(1, n_files):
        i = len(conv) * k // n_files
        while 0 < i < len(conv) and conv[i] == conv[i - 1]:
            i += 1
        bounds.append(i)
    bounds.append(len(conv))
    size = 0
    for k in range(n_files):
        path = os.path.join(dest, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        size += os.path.getsize(path)
    return size


# --- the timed action -------------------------------------------------------


def run_action(w: Workload, src, out_root: str | None = None) -> None:
    """One timed run: the whole pipeline into its sink."""
    if w.checkpoint:
        from autoscan_spark.plans.checkpoint import CheckpointedExtraction

        # one commit wave: the default shape of jobs/extract_job.py
        CheckpointedExtraction(root=out_root, n_buckets=N_BUCKETS, mode=w.mode).run(src, waves=1)
        return
    from autoscan_spark.plans.pipeline import extract_pipeline

    _, docs = extract_pipeline(src, mode=w.mode, polish=w.polish)
    noop(docs)


def arrow_identity(batches):
    """Identity ``mapInArrow`` body: the cost of crossing the Python boundary
    with no kernel work."""
    yield from batches


# --- reference and checks -----------------------------------------------------


@dataclass
class Reference:
    turns: dict  # (conv_id, turn_idx) -> (extracted_text, status, kind)
    docs: dict  # conv_id -> markdown
    pages: dict  # conv_id -> ordered ok outputs that the fold joins
    rows_in: Counter  # bucket -> input turns
    rows_out: Counter  # bucket -> ok turns

    @property
    def errors(self) -> int:
        return sum(1 for _, status, _ in self.turns.values() if status != STATUS_OK)

    def kind_counts(self) -> Counter:
        return Counter(kind for _, _, kind in self.turns.values())


def reference(w: Workload, rows: list[tuple]) -> Reference:
    """Expected outputs, computed in-process from the kernels alone."""
    by_conv = defaultdict(list)
    for conv_id, turn_idx, role, text, _tool, _ts in rows:
        by_conv[conv_id].append((turn_idx, role, text))
    ref = Reference({}, {}, {}, Counter(), Counter())
    for conv_id, turns in by_conv.items():
        turns.sort()
        prev, pages = None, []
        bucket = bucket_of(conv_id, N_BUCKETS)
        for turn_idx, role, text in turns:
            out, _spans, status, kind = extract_turn(text, role, prev if w.mode == "high" else None)
            ref.turns[(conv_id, turn_idx)] = (out, status, kind)
            ref.rows_in[bucket] += 1
            if status == STATUS_OK:
                pages.append(out)
                ref.rows_out[bucket] += 1
            prev = out
        if pages or w.mode == "high":  # low mode drops failed turns before the fold
            md = join_pages(pages)
            if w.polish and md.strip():
                md = polish_markdown(md)
            ref.docs[conv_id] = md
            ref.pages[conv_id] = pages
    return ref


def _turn_map(table: pa.Table) -> dict:
    cols = [table.column(c).to_pylist() for c in ("conv_id", "turn_idx", "extracted_text", "status", "kind")]
    return {(c, i): (t, s, k) for c, i, t, s, k in zip(*cols)}


def _doc_map(table: pa.Table) -> dict:
    return dict(zip(table.column("conv_id").to_pylist(), table.column("markdown").to_pylist()))


def _compare(label: str, got: dict, want: dict, problems: list[str]) -> None:
    if got == want:
        return
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    wrong = [k for k in want.keys() & got.keys() if got[k] != want[k]]
    problems.append(
        f"{label}: {len(missing)} missing, {len(extra)} unexpected, {len(wrong)} differ"
        + (f" (first: {sorted(wrong)[0]!r})" if wrong else "")
    )


def checked_pass(w: Workload, src, ref: Reference, out_root: str) -> tuple[list[str], int]:
    """Run the workload once, untimed, and compare every output with ``ref``.
    Returns (problems, turns whose status is not ok)."""
    problems: list[str] = []
    if w.checkpoint:
        run_action(w, src, out_root)
        turns = pq.read_table(os.path.join(out_root, "extracted"))
        docs = pq.read_table(os.path.join(out_root, "doc_markdown"))
        lineage = pq.read_table(os.path.join(out_root, "lineage")).to_pylist()
        buckets = zip(turns.column("conv_id").to_pylist(), turns.column("bucket").to_pylist())
        misplaced = sum(1 for c, b in buckets if int(b) != bucket_of(c, N_BUCKETS))
        if misplaced:
            problems.append(f"extracted/: {misplaced} turns under the wrong bucket")
        committed = sorted(r["partition_id"] for r in lineage)
        if committed != list(range(N_BUCKETS)):
            problems.append(f"lineage/: committed buckets {committed} != 0..{N_BUCKETS - 1} once each")
        for col, want in (("rows_in", ref.rows_in), ("rows_out", ref.rows_out)):
            got = {r["partition_id"]: r[col] for r in lineage}
            _compare(f"lineage {col}", got, {b: want[b] for b in range(N_BUCKETS)}, problems)
    else:
        from autoscan_spark.plans.pipeline import extract_pipeline

        extracted, doc_df = extract_pipeline(src, mode=w.mode, polish=w.polish)
        extracted.cache()  # one kernel pass feeds both outputs
        try:
            turns = extracted.select("conv_id", "turn_idx", "extracted_text", "status", "kind").toArrow()
            docs = doc_df.select("conv_id", "markdown").toArrow()
        finally:
            extracted.unpersist()
    got_turns = _turn_map(turns)
    _compare("per-turn text/status/kind", got_turns, ref.turns, problems)
    _compare("per-document markdown", _doc_map(docs), ref.docs, problems)
    if turns.num_rows != len(ref.turns):
        problems.append(f"{turns.num_rows} turn rows for {len(ref.turns)} input turns")
    errors = sum(1 for _, status, _ in got_turns.values() if status != STATUS_OK)
    if errors != ref.errors:
        problems.append(f"{errors} failed turns, reference has {ref.errors}")
    kinds = Counter(kind for _, _, kind in got_turns.values())
    if kinds != ref.kind_counts():
        problems.append(f"kind counts {dict(kinds)} != reference {dict(ref.kind_counts())}")
    return problems, errors
