"""HTML main-content extraction kernel (jusText / Boilerpipe style).

Deterministic replacement for the reference's per-page image→markdown LLM call
(reference: autoscan/llm_processors/img_to_md_processor.py:28-89): instead of
an OCR model, an HTML fragment payload is segmented into blocks and classified
by text density + link density, keeping main content and dropping boilerplate
(nav / header / footer / link farms), then emitted as markdown.

Frozen classifier spec (extractor version ``ex-v1``):

- Containers whose entire subtree is dropped: ``script style noscript svg
  nav header footer aside form iframe template``.
- Block boundaries: ``p div section article main li h1..h6 td th tr table ul
  ol blockquote pre title body html br``.
- A block's ``link_density`` = chars of text inside ``<a>`` / total chars.
- Keep rule: headings (h1..h6) with any text are always kept and emitted as
  ``'#' * level + ' ' + text``; list items are kept when ``link_density <
  0.5`` and emitted as ``'- ' + text``; any other block is kept iff
  ``len(text) >= 25`` and ``link_density < 0.5``.
- Kept blocks are emitted in document order joined by ``"\n\n"``.
- Whitespace inside a block is collapsed to single spaces; entities are
  decoded.

Tokenization is a single-pass regex scanner (tags / comments / text runs) —
~10× faster per fragment than ``html.parser`` and it yields exact raw-string
offsets for spans directly. Quoted ``>`` inside attribute values would
mis-split a tag (the usual regex-scanner trade); attributes are never
consumed by this kernel, so the failure mode is a dropped text sliver, and
malformed markup degrades gracefully rather than erroring. The scan is
linear in the input: past the last ``>`` no tag can close, so that tail is
tokenized without the tag branches (``_tokens``).

Span offsets: each kept block contributes one span ``(start, end, kind)``
with offsets into the ORIGINAL payload string covering the block's raw text
chunks, ``kind='html_block'``.
"""

from __future__ import annotations

import re
from html import unescape
from typing import List, Tuple

DROP_SUBTREE = {
    "script", "style", "noscript", "svg", "nav", "header", "footer",
    "aside", "form", "iframe", "template",
}

BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "li",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "ul", "ol", "blockquote", "pre",
    "title", "body", "html", "br",
}

HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.5

_WS = re.compile(r"\s+")

# one token per match, classified by named group:
#   decl = comment / doctype / declaration, end = closing tag,
#   start = opening tag (name captured), text = text run
_TOKEN = re.compile(
    r"(?P<decl><!--.*?(?:-->|$)|<![^>]*>)"
    r"|</\s*(?P<end>[a-zA-Z][a-zA-Z0-9]*)[^>]*>"
    r"|<(?P<start>[a-zA-Z][a-zA-Z0-9]*)(?P<rest>[^>]*)>"
    # stray '<' (math, prose) consumes one char so following text survives;
    # a truncated real tag at EOF degrades to text rather than eating input
    r"|(?P<junk><)"
    r"|(?P<text>[^<]+)",
    re.DOTALL,
)
# _TOKEN where no '>' follows: every tag branch needs one, so only an
# unterminated comment (to end of input, or before a final newline, as $
# matches there), a stray '<' or a text run can match. Trying the tag
# branches there would rescan to EOF once per '<' — quadratic.
_TAIL_TOKEN = re.compile(r"(?P<decl><!--.*?$)|(?P<junk><)|(?P<text>[^<]+)", re.DOTALL)
_HAS_ENTITY = re.compile(r"&[#a-zA-Z]")


class _Block:
    __slots__ = ("chunks", "link_chars", "tag", "start", "end")

    def __init__(self, tag: str) -> None:
        self.chunks: List[str] = []
        self.link_chars = 0
        self.tag = tag
        self.start = -1
        self.end = -1

    def text(self) -> str:
        return _WS.sub(" ", "".join(self.chunks)).strip()


class _MainContentScanner:
    """Single-pass tokenizer + block accumulator (no html.parser)."""

    __slots__ = ("blocks", "_current", "_drop_depth", "_anchor_depth", "_heading")

    def __init__(self) -> None:
        self.blocks: List[_Block] = []
        self._current = _Block("p")
        self._drop_depth = 0
        self._anchor_depth = 0
        self._heading: str | None = None

    def _flush(self) -> None:
        if self._current.chunks:
            self.blocks.append(self._current)
        self._current = _Block(self._heading or "p")

    def _start_tag(self, tag: str) -> None:
        if tag in DROP_SUBTREE:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._heading = tag if tag in HEADING_TAGS else None
            self._current.tag = (
                tag if tag in HEADING_TAGS or tag == "li" else "p"
            )

    def _end_tag(self, tag: str) -> None:
        if tag in DROP_SUBTREE:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()
            self._heading = None

    def _data(self, data: str, start: int, end: int) -> None:
        if self._drop_depth or not data.strip():
            return
        if _HAS_ENTITY.search(data):
            data = unescape(data)
        if self._current.start < 0:
            self._current.start = start
        self._current.end = end
        self._current.chunks.append(data)
        if self._anchor_depth:
            self._current.link_chars += len(data.strip())

    def scan(self, raw: str) -> None:
        start_tag = self._start_tag
        end_tag = self._end_tag
        data = self._data
        for m in _tokens(raw):
            kind = m.lastgroup
            if kind == "text":
                data(m.group("text"), m.start(), m.end())
            elif kind == "rest":  # opening tag: 'rest' is the last group set
                tag = m.group("start").lower()
                start_tag(tag)
                # explicit self-closing block tag (e.g. <br/>) also ends it
                if tag in BLOCK_TAGS and m.group("rest").endswith("/"):
                    end_tag(tag)
            elif kind == "end":
                end_tag(m.group("end").lower())
            # decl / junk: skipped
        self._flush()


def _tokens(raw: str):
    """``_TOKEN.finditer(raw)``, linear in ``len(raw)``: tokens that start
    past the last ``>`` come from ``_TAIL_TOKEN``, which matches exactly
    what ``_TOKEN`` would there."""
    last_gt = raw.rfind(">")
    if raw.rfind("<") <= last_gt:  # no '<' past the last '>': nothing to rescan
        return _TOKEN.finditer(raw)
    return _split_tokens(raw, last_gt)


def _split_tokens(raw: str, last_gt: int):
    for m in _TOKEN.finditer(raw):
        if m.start() > last_gt:
            yield from _TAIL_TOKEN.finditer(raw, m.start())
            return
        yield m


def extract_html(raw: str) -> Tuple[str, List[Tuple[int, int, str]]]:
    """Extract main content from an HTML fragment.

    Returns ``(markdown_text, spans)`` where spans are ``(start, end, kind)``
    offsets into ``raw`` with ``kind='html_block'``.
    """
    scanner = _MainContentScanner()
    scanner.scan(raw)

    out_parts: List[str] = []
    spans: List[Tuple[int, int, str]] = []
    for block in scanner.blocks:
        text = block.text()
        if not text:
            continue
        total = len(text)
        link_density = block.link_chars / total if total else 1.0
        if block.tag in HEADING_TAGS:
            level = int(block.tag[1])
            out_parts.append("#" * level + " " + text)
        elif block.tag == "li":
            if link_density >= MAX_LINK_DENSITY:
                continue
            out_parts.append("- " + text)
        else:
            if total < MIN_BLOCK_CHARS or link_density >= MAX_LINK_DENSITY:
                continue
            out_parts.append(text)
        spans.append((max(block.start, 0), max(block.end, 0), "html_block"))

    return "\n\n".join(out_parts), spans
