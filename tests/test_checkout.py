"""Tests import the checkout they run in, not some other copy of it.

``pytest.ini`` puts the repository root (``pythonpath = .``) first on
``sys.path``, so a test run from any copy of the repository tests that
copy's package, ``bench.py`` and ``__spark_entry__.py``.
"""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("name", ["textextraction_spark", "bench", "__spark_entry__"])
def test_module_resolves_under_this_checkout(name):
    path = Path(importlib.import_module(name).__file__).resolve()
    assert path.is_relative_to(ROOT), f"{name} imported from {path}, not under {ROOT}"
