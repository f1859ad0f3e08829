"""Ordered document fold — byte-exact contract with the reference.

Semantics mirror ``_join_markdown_pages`` (reference: autoscan/autoscan.py:353-383):

1. Every page has every literal ``---PAGE BREAK---`` marker removed, then is
   right-stripped (autoscan/autoscan.py:367).
2. Pages that are empty after cleaning are dropped (autoscan/autoscan.py:368)
   BEFORE adjacency is considered, so the separator rule applies to the
   sequence of *surviving* pages.
3. Surviving pages are joined in order. The separator between two adjacent
   surviving pages is a single ``"\n"`` iff the previous page ends with ``|``
   AND the current page starts with ``|`` (markdown table continuation),
   otherwise ``"\n\n"`` (autoscan/autoscan.py:380).

Because the separator depends on post-filter adjacency, filtering and joining
are NOT separable distributed operations: both happen inside one per-document
fold. ``join_pages`` is that fold in Python. No pipeline runs it: it is only
the reference that tests and the benchmark compare the distributed fold
(``operators.fold``, JVM column expressions) against.
"""

from __future__ import annotations

from typing import List

PAGE_BREAK = "---PAGE BREAK---"

# The code points for which Python's str.isspace() is true, i.e. exactly what
# str.rstrip() strips; WS_CLASS is their regex character class, in the
# \x{...} escapes that Java and RE2 both read.
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
WS_CLASS = "[" + "".join(f"\\x{{{ord(c):x}}}" for c in PY_WHITESPACE) + "]"


def clean_page(page: str) -> str:
    """Marker scrub + right-strip, applied to every page before the fold."""
    return page.replace(PAGE_BREAK, "").rstrip()


def _separator(prev_page: str, current_page: str) -> str:
    return "\n" if prev_page.endswith("|") and current_page.startswith("|") else "\n\n"


def join_pages(pages: List[str]) -> str:
    """Fold an ordered list of page texts into one document string."""
    if not pages:
        return ""

    valid = [p for p in (clean_page(page) for page in pages) if p]
    if not valid:
        return ""

    parts = [valid[0]]
    for i in range(1, len(valid)):
        parts.append(_separator(valid[i - 1], valid[i]) + valid[i])
    return "".join(parts)
