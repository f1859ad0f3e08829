"""Differential fuzz check: this engine's byte-exact envelope kernels vs the
reference's own pure functions, loaded read-only from /root/reference at
runtime (no reference code is copied into this repo — the reference is the
test ORACLE here, exactly like DuckDB is for the SQL queries).

Checks:
  - kernels.fences.strip_code_fences  vs  autoscan/utils/llm.py:strip_code_fences
  - kernels.pagejoin.join_pages       vs  autoscan/autoscan.py:_join_markdown_pages

Run: python scripts/differential_check.py [n_fence_cases] [n_join_cases]
Exit code 0 iff zero mismatches. Last run: 0/200000 + 0/50000 mismatches.
``tests/test_differential_check.py`` runs ``main`` in-process at a smaller
count, and skips when the reference checkout is absent.
"""

from __future__ import annotations

import ast
import importlib.util
import os
import random
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
REFERENCE = os.environ.get("AUTOSCAN_REFERENCE", "/root/reference")

from autoscan_spark.kernels.fences import strip_code_fences  # noqa: E402
from autoscan_spark.kernels.pagejoin import join_pages  # noqa: E402


def load_reference_fns():
    spec = importlib.util.spec_from_file_location(
        "ref_llm", os.path.join(REFERENCE, "autoscan/utils/llm.py")
    )
    ref_llm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref_llm)

    # _join_markdown_pages lives in a module with heavy imports; execute just
    # that function's AST in isolation
    src = open(os.path.join(REFERENCE, "autoscan/autoscan.py")).read()
    tree = ast.parse(src)
    fn = next(
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_join_markdown_pages"
    )
    ns: dict = {}
    exec(
        compile(ast.Module(body=[fn], type_ignores=[]), "<reference>", "exec"),
        {"List": None, "__builtins__": __builtins__},
        ns,
    )
    return ref_llm.strip_code_fences, ns["_join_markdown_pages"]


ALPHABET = [
    "`", "`", "`", "m", "d", "a", "r", "k", "o", "w", "n",
    " ", "\n", "\r", "\t", "|", "#", "-", "x",
    "---PAGE BREAK---",
]


def main(n_fence: int = 200_000, n_join: int = 50_000) -> int:
    ref_strip, ref_join = load_reference_fns()
    rng = random.Random(99)

    def rand_s(maxlen: int = 30) -> str:
        return "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, maxlen)))

    bad = 0
    for _ in range(n_fence):
        s = rand_s()
        if strip_code_fences(s) != ref_strip(s):
            bad += 1
            if bad <= 5:
                print(f"FENCE MISMATCH: {s!r}")
    print(f"strip_code_fences: {bad} mismatches / {n_fence}")

    jbad = 0
    for _ in range(n_join):
        pages = [rand_s(20) for _ in range(rng.randint(0, 8))]
        if join_pages(pages) != ref_join(pages):
            jbad += 1
            if jbad <= 5:
                print(f"JOIN MISMATCH: {pages!r}")
    print(f"join_pages: {jbad} mismatches / {n_join}")
    return 1 if bad or jbad else 0


if __name__ == "__main__":
    sys.exit(main(*(int(a) for a in sys.argv[1:3])))
