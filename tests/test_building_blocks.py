"""One copy of each shared building block.

The near-dup and sketch operators build from a few blocks that live in
``operators/sqlutil.py``: the md5 position hash (``md5_bucket``), the
word shingles (``shingle_expr``), the compacted-scan spread (``spread``)
and the candidate-pair bucket self-join (``bucket_self_join``). These
tests read the package source and fail when a hand-written copy of any
of them comes back. Docstrings and comments are ignored: they may quote
a block's spelling (the DuckDB replay of a hash, say) without copying it.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "autoscan_spark"
OPERATORS = PACKAGE / "operators"
SQLUTIL = OPERATORS / "sqlutil.py"

BLOCKS = ("md5_bucket", "shingle_expr", "spread", "bucket_self_join")

# the first 8 md5 hex digits, spelled in Spark SQL or the DataFrame API
MD5_PREFIX = re.compile(r"substr(?:ing)?\(\s*(?:F\.)?md5\(")
# the singleton-bucket prune ahead of the self-join: its size column, and
# the filter on it
BUCKET_SIZE = re.compile(r"__bucket_size")
BUCKET_PRUNE = re.compile(r"""F\.col\(["']__bucket_size["']\)\s*>\s*1""")
# the self-join's pair condition, ``a.<id> < b.<id>``
PAIR_CONDITION = re.compile(r"""F\.col\(f?["']a\.[^"']*["']\)\s*<\s*F\.col\(f?["']b\.""")
# a frame repartitioned to a bare partition count (``spread``'s rule)
BARE_REPARTITION = re.compile(r"\.repartition\(\s*[A-Za-z_]\w*\s*\)")


def _code(path: Path) -> str:
    """The source of ``path`` with docstrings and comments blanked out."""
    src = path.read_text()
    lines = src.splitlines()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                for i in range(first.lineno - 1, first.end_lineno):
                    lines[i] = ""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return "\n".join(lines)


def _operator_modules():
    return sorted(p for p in OPERATORS.glob("*.py") if p != SQLUTIL)


def _hits(pattern: re.Pattern) -> dict[str, int]:
    counts = {p.name: len(pattern.findall(_code(p))) for p in _operator_modules()}
    return {name: n for name, n in counts.items() if n}


def test_md5_position_hash_is_spelled_only_in_sqlutil():
    assert _hits(MD5_PREFIX) == {}
    assert len(MD5_PREFIX.findall(_code(SQLUTIL))) == 1


def test_bucket_self_join_is_written_once():
    assert _hits(BUCKET_SIZE) == {}
    assert _hits(PAIR_CONDITION) == {}
    assert len(BUCKET_PRUNE.findall(_code(SQLUTIL))) == 1
    assert len(PAIR_CONDITION.findall(_code(SQLUTIL))) == 1


def test_only_spread_repartitions_to_a_bare_count():
    assert _hits(BARE_REPARTITION) == {}


def test_blocks_are_defined_and_imported_from_sqlutil_only():
    """A block is defined once, in sqlutil (a private ``_spread`` copy
    counts), and no module imports one from anywhere else."""
    defined, imported_elsewhere = {}, []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.lstrip("_") in BLOCKS:
                    defined.setdefault(node.name, []).append(path.name)
            elif isinstance(node, ast.ImportFrom) and node.module != "autoscan_spark.operators.sqlutil":
                names = {a.name.lstrip("_") for a in node.names}
                imported_elsewhere += [
                    f"{path.name}: {node.module}.{n}" for n in sorted(names & set(BLOCKS))
                ]
    assert defined == {name: ["sqlutil.py"] for name in BLOCKS}
    assert imported_elsewhere == []
