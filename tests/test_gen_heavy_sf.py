"""The heavy-tier generator's token-suffix renaming must never merge two
distinct tokens (tools/gen_heavy_sf.py)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "gen_heavy_sf",
    Path(__file__).resolve().parents[1] / "tools" / "gen_heavy_sf.py",
)
gen = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen)


def test_renaming_collisions_raise():
    # replica 1 renames "ab" to "ab1", a source token
    with pytest.raises(ValueError, match="'ab1'.*source vocabulary"):
        gen._check_renaming(["ab", "ab1"], replicas=2)
    # a stopword is never renamed, so "a" and "a1" cannot merge
    gen._check_renaming(["a", "a1", "the", "zeta"], replicas=12)
