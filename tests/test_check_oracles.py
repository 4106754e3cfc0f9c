"""The oracle-gate CLI's name resolver (no Spark): a full name or a unique
``qNN`` prefix selects a query; anything else is an error that names the
argument, so a typo can never check nothing and pass."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "check_oracles",
    Path(__file__).resolve().parent / "tools" / "check_oracles.py")
check_oracles = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(check_oracles)

NAMES = {"q2_scan", "q24_extraction", "q240_other", "q5_a", "q5_b"}


def test_exact_name_resolves_to_itself():
    assert check_oracles.resolve_names(["q24_extraction"], NAMES) == \
        ["q24_extraction"]


def test_unique_prefix_resolves_to_full_name():
    # q24 stops at the "_" boundary: q240_other is not a candidate
    assert check_oracles.resolve_names(["q24", "q2"], NAMES) == \
        ["q24_extraction", "q2_scan"]


def test_unknown_name_raises_and_names_it():
    with pytest.raises(ValueError, match="'q99' matches no query"):
        check_oracles.resolve_names(["q2", "q99"], NAMES)


def test_ambiguous_prefix_raises_and_names_it():
    with pytest.raises(ValueError, match="'q5' is ambiguous"):
        check_oracles.resolve_names(["q5"], NAMES)


def test_every_real_query_resolves_by_its_qnn_prefix():
    import __spark_entry__ as entrymod

    names = set(entrymod.queries())
    prefixes = [n.split("_", 1)[0] for n in sorted(names)]
    assert sorted(check_oracles.resolve_names(prefixes, names)) == \
        sorted(names)
