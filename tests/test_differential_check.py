"""The envelope kernels against the reference's own functions:
``scripts/differential_check.py``'s fuzz, run in-process at a small count.
Skipped when the reference checkout (``AUTOSCAN_REFERENCE``) is absent."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "differential_check.py")


def test_fences_and_page_join_match_the_reference():
    spec = importlib.util.spec_from_file_location("differential_check", SCRIPT)
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    if not os.path.isdir(os.path.join(check.REFERENCE, "autoscan")):
        pytest.skip(f"no reference checkout at {check.REFERENCE}")
    assert check.main(n_fence=20_000, n_join=5_000) == 0
