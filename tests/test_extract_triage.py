"""The batch kernel's triage: only rows that ``extract_turn`` may change (or
classify as other than plain) reach it, and every output equals a per-row
``extract_turn`` replay in both modes, at any batch size."""

import random

import pyarrow as pa
import pyarrow.compute as pc
import pytest

import autoscan_spark.operators.extract as extract_mod
from autoscan_spark import EXTRACTOR_VERSION
from autoscan_spark.kernels.dispatch import (
    KIND_PLAIN,
    NEEDS_KERNEL,
    STATUS_OK,
    TOOL_ROLE,
    extract_turn,
)
from autoscan_spark.operators.extract import _ARROW_SCHEMA, _extract_batches
from autoscan_spark.operators.fold import PY_WHITESPACE
from autoscan_spark.sources.transcripts import gen_conversation

BATCH_SIZES = (1, 3, 64, 2048)
BAD_PDF = "%PDF-STREAM v1\nbroken"
TABLE = "| a | b |\n|---|---|\n| 1 | 2 |"


def _batches(rows, size):
    conv, idx, role, text = zip(*rows)
    table = pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
        }
    )
    return table.to_batches(max_chunksize=size)


def _kernel(rows, size, serial):
    out = list(_extract_batches(iter(_batches(rows, size)), serial=serial))
    assert all(b.schema == _ARROW_SCHEMA for b in out)
    assert sum(b.num_rows for b in out) == len(rows)
    return pa.Table.from_batches(out, schema=_ARROW_SCHEMA).to_pylist()


def _replay(rows, serial):
    """The envelope one row at a time, with no triage: high mode passes the
    previous row's output as context within a conversation and raises on
    the first failure."""
    out = []
    prev_conv = prev_out = None
    for conv, idx, role, text in rows:
        context = prev_out if serial and conv == prev_conv else None
        extracted, spans, status, kind = extract_turn(text, role, context)
        if serial and status != STATUS_OK:
            raise RuntimeError(
                f"extraction failed in high (sequential) mode for "
                f"conv_id={conv} turn_idx={idx}: {status}"
            )
        prev_conv, prev_out = conv, extracted
        out.append(
            {
                "conv_id": conv,
                "turn_idx": idx,
                "extracted_text": extracted,
                "spans": [{"start": s, "end": e, "kind": k} for s, e, k in spans],
                "status": status,
                "kind": kind,
                "in_chars": len(text or ""),
                "out_chars": len(extracted),
                "extractor_version": EXTRACTOR_VERSION,
            }
        )
    return out


def _edge_texts():
    """Enumerated rows at each edge of the triage, as (role, text)."""
    yield "user", None
    yield None, "a turn with no role"
    yield None, None
    yield "user", ""
    for c in PY_WHITESPACE:
        yield "user", f"ends in whitespace{c}"
        yield "assistant", f"whitespace{c}inside"
    yield "user", "```\nfenced body\n```"
    yield "user", "```markdown\n# Fenced Title\nbody\n```"
    yield "user", "``` never closed"
    yield "user", "text then ```"
    yield "assistant", "a < b, not a tag"
    yield "assistant", "<div><p>real html paragraph long enough to keep it</p></div>"
    yield "user", "mentions %PDF-STREAM in the middle"
    yield "user", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 and 😀 astral code points"
    yield "user", "<p>𝔘 astral inside html, long enough to keep it here</p>"
    yield "tool", "plain words from a tool"
    yield "tool", None
    yield "user", "a pipe | and # hash inside"
    yield "user", BAD_PDF


def _context_convs():
    """Conversations that exercise the context rule across pass-through
    rows: a plain row ending in ``|`` before a table, a repeated heading,
    a pass-through row between two headings."""
    yield [("user", "the table continues |"), ("user", TABLE), ("user", "after")]
    yield [("user", TABLE), ("user", TABLE), ("user", "| x |\n|--|\n| y |")]
    yield [("user", "# Same Heading\nbody one"), ("user", "# Same Heading\n\nbody two")]
    yield [("user", "# Same Heading\nbody"), ("user", "plain in between"), ("user", "# Same Heading\nmore")]
    yield [("user", "ends with pipe |"), ("user", "| h |\n|---|\n| v |"), ("user", "# H"), ("user", "# H\n\nx")]
    yield [("user", "# Only"), ("user", None), ("user", "# Only\nagain")]


def _random_text(rng):
    parts = ["word", " ", "\n", "|", "#", "```", "<", "<p>", "%PDF-STREAM", "😀", "𝔘", "-", TABLE]
    parts += list(PY_WHITESPACE[:6])
    return "".join(rng.choice(parts) for _ in range(rng.randint(0, 12)))


def _rows(seed):
    rng = random.Random(seed)
    convs = [[(r[2], r[3]) for r in gen_conversation(c, seed=seed)] for c in range(24)]
    convs += [[(rng.choice(["user", "assistant", "tool", None]), _random_text(rng))
               for _ in range(rng.randint(1, 6))] for _ in range(60)]
    convs += list(_context_convs())
    convs += [[turn] for turn in _edge_texts()]
    rng.shuffle(convs)
    return [
        (f"conv{k:03d}", i, role, text)
        for k, turns in enumerate(convs)
        for i, (role, text) in enumerate(turns, start=1)
    ]


def _without_failed(rows):
    """``rows`` minus every conversation holding a turn that fails."""
    failed = {r["conv_id"] for r in _replay(rows, serial=False) if r["status"] != STATUS_OK}
    return [r for r in rows if r[0] not in failed]


@pytest.mark.parametrize("size", BATCH_SIZES)
def test_low_mode_equals_per_row_replay(size):
    rows = _rows(7)
    want = _replay(rows, serial=False)
    assert sum(r["status"] != STATUS_OK for r in want) > 0
    assert _kernel(rows, size, serial=False) == want


@pytest.mark.parametrize("size", BATCH_SIZES)
def test_high_mode_equals_per_row_replay(size):
    rows = _without_failed(_rows(11))
    want = _replay(rows, serial=True)
    # the context rule fires, so the chain of outputs is really exercised
    assert any(w["extracted_text"] != lo["extracted_text"]
               for w, lo in zip(want, _replay(rows, serial=False)))
    assert _kernel(rows, size, serial=True) == want


@pytest.mark.parametrize("size", BATCH_SIZES)
def test_high_mode_raises_on_the_first_failed_turn(size):
    rows = _without_failed(_rows(3))
    half = len(rows) // 2
    bad = [("conv_bad", 1, "user", "fine"), ("conv_bad", 2, "user", BAD_PDF)]
    rows = rows[:half] + bad + rows[half:] + [("conv_zz", 1, "user", BAD_PDF)]
    with pytest.raises(RuntimeError) as want:
        _replay(rows, serial=True)
    with pytest.raises(RuntimeError) as got:
        _kernel(rows, size, serial=True)
    assert "conv_id=conv_bad turn_idx=2" in str(want.value)
    assert str(got.value) == str(want.value)


# ---------- pin: which rows reach extract_turn ----------

PASS_THROUGH = [
    ("user", "plain words"),
    ("assistant", "a pipe | and a # hash and a ``` fence inside"),
    ("user", "mentions %PDF-STREAM later"),
    ("user", "inner whitespace　and\ttabs\nand lines"),
    ("user", "😀 astral"),
    ("user", ""),
    ("user", None),
    (None, "no role"),
    ("toolbox", "a role that is not tool"),
]

KERNEL_CLASSES = {
    "lt": ("user", "a < b"),
    "pdf": ("user", BAD_PDF),
    "fence": ("user", "```\nfenced\n```"),
    "pipe": ("user", "| a |"),
    "hash": ("user", "# heading"),
    "space": ("user", "trailing space "),
    "ideographic_space": ("user", "trailing ideographic space　"),
    "tool": ("tool", "plain words"),
}


@pytest.fixture
def kernel_calls(monkeypatch):
    calls = []

    def counting(text, role, previous_output=None):
        calls.append(text)
        return extract_turn(text, role, previous_output)

    monkeypatch.setattr(extract_mod, "extract_turn", counting)
    return calls


def _conv_rows(turns):
    return [("c", i, role, text) for i, (role, text) in enumerate(turns, start=1)]


@pytest.mark.parametrize("serial", [False, True])
def test_pass_through_rows_never_call_the_kernel(kernel_calls, serial):
    rows = _conv_rows(PASS_THROUGH)
    assert _kernel(rows, 2048, serial=serial) == _replay(rows, serial=serial)
    assert kernel_calls == []


@pytest.mark.parametrize("serial", [False, True])
@pytest.mark.parametrize("turn", list(KERNEL_CLASSES.values()), ids=list(KERNEL_CLASSES))
def test_each_excluded_class_calls_the_kernel_once(kernel_calls, serial, turn):
    rows = _conv_rows(PASS_THROUGH + [turn] + PASS_THROUGH)
    if serial and turn[1] == BAD_PDF:
        with pytest.raises(RuntimeError, match="turn_idx=10"):
            _kernel(rows, 2048, serial=True)
    else:
        _kernel(rows, 2048, serial=serial)
    assert kernel_calls == [turn[1]]


def test_unmatched_texts_come_back_unchanged_under_any_context():
    """``NEEDS_KERNEL``'s contract with the envelope, checked on its own: a
    non-tool text RE2 does not match is returned as itself, with one plain
    span, whatever the previous output; a context that ends in ``|`` or
    repeats the text's first line is the one that could change it."""
    rng = random.Random(5)
    texts = [_random_text(rng) for _ in range(3000)] + [t for _, t in _edge_texts()]
    matched = pc.match_substring_regex(pa.array(texts, pa.string()), NEEDS_KERNEL)
    unmatched = [t for t, m in zip(texts, matched.to_pylist()) if not m]
    assert len(unmatched) > 500
    for text in unmatched:
        body = text or ""
        spans = [(0, len(body), KIND_PLAIN)] if body else []
        for role in ("user", "assistant", None, TOOL_ROLE + "s"):
            for context in (None, "", "x |", body, body.split("\n")[0] + "\nmore"):
                assert extract_turn(text, role, context) == (body, spans, STATUS_OK, KIND_PLAIN)
