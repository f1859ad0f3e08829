"""Unit tests for the payload extraction kernels (html / pdf-stream / tool)
and the dispatch + context envelope."""

from autoscan_spark.kernels.dispatch import apply_context, classify, extract_turn
from autoscan_spark.kernels.html_main import extract_html
from autoscan_spark.kernels.pdf_stream import PdfStreamError, extract_pdf_stream
from autoscan_spark.kernels.tool_markup import extract_tool_markup

import pytest


# ---------- HTML ----------

HTML_PAGE = (
    "<html><head><title>T</title><style>.x{color:red}</style></head><body>"
    "<nav><a href='/'>Home</a> <a href='/a'>About</a> <a href='/b'>Blog</a></nav>"
    "<h1>Main Title</h1>"
    "<p>This is the principal article body with enough characters to be kept.</p>"
    "<div><a href='x'>link</a> <a href='y'>farm</a> <a href='z'>of links here</a></div>"
    "<ul><li>first item in the list</li><li>second item in the list</li></ul>"
    "<footer>Copyright 2026 Example Corp All Rights Reserved</footer>"
    "</body></html>"
)


def test_html_keeps_main_drops_boilerplate():
    text, spans = extract_html(HTML_PAGE)
    assert text == (
        "# Main Title\n\n"
        "This is the principal article body with enough characters to be kept.\n\n"
        "- first item in the list\n\n"
        "- second item in the list"
    )
    assert len(spans) == 4
    assert all(kind == "html_block" for _, _, kind in spans)
    # spans point back into the raw payload
    s, e, _ = spans[1]
    assert HTML_PAGE[s:e].strip().startswith("This is the principal")


def test_html_heading_levels_and_entities():
    text, _ = extract_html("<h3>A &amp; B</h3><p>" + "x" * 30 + "</p>")
    assert text.startswith("### A & B\n\n")


def test_html_link_density_drops_link_farm():
    text, _ = extract_html(
        "<p><a href='1'>aaaaaaaaaaaaaaa</a> <a href='2'>bbbbbbbbbbbbbbb</a> zz</p>"
    )
    assert text == ""


def test_html_tokenizer_is_linear_in_unclosed_tags():
    """A '<' with no later '>' must not rescan to EOF once per tag
    attempt: doubling the input may at most ~double the time (start tags,
    end tags and declarations; the last shape has a '>' before the tail)."""
    import time

    def best_time(raw):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            extract_html(raw)
            times.append(time.perf_counter() - t0)
        return min(times)

    for unit, head in (("<a x", "<p>"), ("</a x", "<p>"), ("<!x", "<p>"), ("<a x", "<p>" * 500 + "text")):
        t_n = best_time(head + unit * (100_000 // len(unit)))
        t_2n = best_time(head + unit * (200_000 // len(unit)))
        assert t_2n <= 2.5 * t_n, (unit, t_n, t_2n)


def test_html_unclosed_tail_tokens():
    """Past the last '>', a stray '<' degrades to text and an unterminated
    comment runs to the end (before a final newline, where $ matches)."""
    assert extract_html("<p>" + "x" * 30 + " <b x")[0] == "x" * 30 + " b x"
    assert extract_html("<p>" + "x" * 30 + "<!-- open\n")[0] == "x" * 30
    assert extract_html("<p>" + "x" * 30 + "<!x</p x")[0] == "x" * 30 + "!x/p x"


# ---------- PDF stream ----------

PDF_PAYLOAD = (
    "%PDF-STREAM v1\n"
    "10;700;The quick brown\n"
    "120;700;fox jumps\n"
    "10;688;over the lazy dog near the riv-\n"
    "10;676;erbank today.\n"
    "10;640;A second paragraph starts here\n"
    "10;628;and continues on the next line.\n"
)


def test_pdf_stream_reading_order_hyphen_paragraphs():
    text, spans = extract_pdf_stream(PDF_PAYLOAD)
    assert text == (
        "The quick brown fox jumps over the lazy dog near the riverbank today.\n\n"
        "A second paragraph starts here and continues on the next line."
    )
    assert [k for _, _, k in spans] == ["pdf_para", "pdf_para"]
    s, e, _ = spans[0]
    assert "The quick brown" in PDF_PAYLOAD[s:e]


def test_pdf_stream_shuffled_input_same_output():
    lines = PDF_PAYLOAD.strip().split("\n")
    shuffled = "\n".join([lines[0]] + lines[1:][::-1])
    assert extract_pdf_stream(shuffled)[0] == extract_pdf_stream(PDF_PAYLOAD)[0]


def test_pdf_stream_malformed_raises():
    with pytest.raises(PdfStreamError):
        extract_pdf_stream("%PDF-STREAM v1\nnot-a-record")
    with pytest.raises(PdfStreamError):
        extract_pdf_stream("no header\n1;2;x")
    with pytest.raises(PdfStreamError):
        extract_pdf_stream("%PDF-STREAM v1\na;b;text")


# ---------- tool markup ----------

TOOL_PAYLOAD = (
    "The command succeeded with output:\n"
    "```json\n{\"a\": 1}\n```\n"
    "Summary: everything is fine.\n"
    "```python\nprint('kept')\n```\n"
    "```log\nWARN noise\nWARN more noise\n```\n"
    "Done."
)


def test_tool_markup_drops_noise_keeps_code_and_prose():
    text, spans = extract_tool_markup(TOOL_PAYLOAD)
    assert text == (
        "The command succeeded with output:\n\n"
        "Summary: everything is fine.\n"
        "```python\nprint('kept')\n```\n\n"
        "Done."
    )
    assert all(k == "tool_text" for _, _, k in spans)
    # spans cover the kept regions of the original
    rebuilt = "\n".join(TOOL_PAYLOAD[s:e] for s, e, _ in spans)
    assert "WARN noise" not in rebuilt
    assert "print('kept')" in rebuilt


def test_tool_markup_unterminated_noise_fence():
    text, _ = extract_tool_markup("keep\n```log\nnoise forever")
    assert text == "keep"


# ---------- dispatch / envelope ----------

def test_classify():
    assert classify("%PDF-STREAM v1\n1;2;x", "assistant") == "pdf"
    assert classify("<p>hi</p>", "user") == "html"
    assert classify("plain words", "tool") == "tool"
    assert classify("plain words", "user") == "plain"
    assert classify("a < b and c > d", "user") == "plain"


def test_extract_turn_plain_fenced_envelope():
    out, spans, status, kind = extract_turn("```markdown\n# Hi\n```", "user")
    assert (out, status, kind) == ("# Hi", "ok", "plain")
    assert spans == [(0, len("```markdown\n# Hi\n```"), "plain")]


def test_extract_turn_error_status():
    out, spans, status, kind = extract_turn("%PDF-STREAM v1\nbroken", "user")
    assert out == "" and spans == [] and kind == "pdf"
    assert status.startswith("error:")


def test_apply_context_table_header_dedupe():
    prev = "| a | b |\n|---|---|\n| 1 | 2 |"
    cur = "| a | b |\n|---|---|\n| 3 | 4 |"
    assert apply_context(prev, cur) == "| 3 | 4 |"
    # prev not ending in | → untouched
    assert apply_context("text", cur) == cur
    # current not a header → untouched
    cur2 = "| 5 | 6 |"
    assert apply_context(prev, cur2) == cur2


def test_apply_context_heading_dedupe():
    prev = "# Chapter One\nbody"
    cur = "# Chapter One\n\nmore body"
    assert apply_context(prev, cur) == "more body"
    assert apply_context(prev, "# Chapter Two\nx") == "# Chapter Two\nx"
    assert apply_context(None, cur) == cur
