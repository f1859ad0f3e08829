"""Per-turn kernel dispatch + the deterministic extraction envelope.

This is the engine's analog of the reference's per-page processing step
(reference: autoscan/llm_processors/img_to_md_processor.py:28-89 →
base_llm_processor.py:105-132): classify the payload, run the matching
extraction kernel, then apply the byte-exact cleanup envelope
(``strip_code_fences``, reference autoscan/utils/llm.py:1-24, applied because
the reference always calls ``_allm_call(..., is_strip_code_fences=True)``).

Classification (frozen, ``ex-v1``), first match wins:

1. payload starts with ``%PDF-STREAM``        → pdf_stream kernel
2. payload looks like HTML (structural tag)   → html kernel
3. ``role == 'tool'``                         → tool-markup kernel
4. otherwise                                  → plain kernel (identity)

High-accuracy mode additionally threads the PREVIOUS turn's output through
``apply_context`` (the deterministic analog of the reference's lag-1 context
prompt, autoscan/autoscan.py:257-271 + img_to_md_processor.py:56-71, whose
instruction is "do NOT repeat headers when tables continue across pages",
autoscan/prompts.py:20):

- if the previous output ends with ``|`` and the current output begins with a
  markdown table header (a ``|...|`` row followed by a ``|---|``-style
  separator row), those two header lines are dropped so the table continues
  seamlessly;
- else if the current output's first line is a markdown heading identical to
  the previous output's first line, the duplicated heading is dropped.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from autoscan_spark.kernels.fences import strip_code_fences
from autoscan_spark.kernels.html_main import extract_html
from autoscan_spark.kernels.pagejoin import WS_CLASS
from autoscan_spark.kernels.pdf_stream import PdfStreamError, extract_pdf_stream
from autoscan_spark.kernels.tool_markup import extract_tool_markup

Span = Tuple[int, int, str]

_HTML_TAG = re.compile(
    r"<(?:!DOCTYPE|html|head|body|div|p|span|a|nav|header|footer|aside|article"
    r"|section|main|ul|ol|li|h[1-6]|table|tr|td|th|script|style|br|blockquote|pre|title)\b",
    re.IGNORECASE,
)
_TABLE_SEP_ROW = re.compile(r"\|[\s:\-|]*\|")

KIND_PDF = "pdf"
KIND_HTML = "html"
KIND_TOOL = "tool"
KIND_PLAIN = "plain"

STATUS_OK = "ok"

TOOL_ROLE = "tool"

# RE2 pattern (for pyarrow.compute) of every text the envelope may change or
# classify as other than plain: a PDF payload (``classify``), any ``<``
# (``_HTML_TAG`` needs one), an opening fence (``strip_code_fences``), an
# opening table row or heading (the only outputs ``apply_context`` changes)
# and a trailing whitespace character (``rstrip``). A turn whose role is not
# ``TOOL_ROLE`` and whose text does not match comes back from
# ``extract_turn`` as its own text (``''`` for null), one plain span over it
# (none when empty), status ``ok`` and kind ``plain``, whatever its context.
NEEDS_KERNEL = f"^(?:%PDF-STREAM|```|[|#])|<|{WS_CLASS}\\z"


def classify(text: str, role: str) -> str:
    """Classify a payload into a kernel kind. First match wins."""
    if text.startswith("%PDF-STREAM"):
        return KIND_PDF
    if _HTML_TAG.search(text):
        return KIND_HTML
    if role == TOOL_ROLE:
        return KIND_TOOL
    return KIND_PLAIN


def apply_context(previous_output: Optional[str], output: str) -> str:
    """Lag-1 output-context rule (high mode only); see module docstring."""
    if not previous_output or not output:
        return output
    lines = output.split("\n")
    if previous_output.endswith("|"):
        if (
            len(lines) >= 2
            and lines[0].startswith("|")
            and lines[0].rstrip().endswith("|")
            and _TABLE_SEP_ROW.fullmatch(lines[1].strip())
        ):
            return "\n".join(lines[2:])
    prev_first = previous_output.split("\n", 1)[0]
    if lines[0].startswith("#") and lines[0] == prev_first:
        rest = lines[1:]
        while rest and not rest[0].strip():
            rest = rest[1:]
        return "\n".join(rest)
    return output


def extract_turn(
    text: Optional[str],
    role: Optional[str],
    previous_output: Optional[str] = None,
) -> Tuple[str, List[Span], str, str]:
    """Extract one turn. Returns ``(extracted_text, spans, status, kind)``.

    Never raises: kernel failures are reported via ``status='error:<msg>'``
    with empty output, so the operator layer can implement both of the
    reference's failure modes (drop in low mode, autoscan/autoscan.py:283-289;
    fail-fast in high mode, autoscan/autoscan.py:250-255).
    """
    if text is None:
        text = ""
    if role is None:
        role = ""
    kind = classify(text, role)
    try:
        if kind == KIND_PDF:
            out, spans = extract_pdf_stream(text)
        elif kind == KIND_HTML:
            out, spans = extract_html(text)
        elif kind == KIND_TOOL:
            out, spans = extract_tool_markup(text)
        else:
            out, spans = text, ([(0, len(text), "plain")] if text else [])
    except PdfStreamError as exc:
        return "", [], f"error:{exc}", kind
    except Exception as exc:  # defensive: any kernel bug becomes a row error
        return "", [], f"error:{type(exc).__name__}:{exc}", kind

    out = strip_code_fences(out)
    out = apply_context(previous_output, out)
    return out, spans, STATUS_OK, kind
