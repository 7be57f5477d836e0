"""The entry registry's assembly, checked without a Spark session:
the driver's name sequence, the body/oracle pairing and the family
declarations."""

import json
import os

import pytest

import __spark_entry__ as E
import registry
from registry import Family

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _record(name):
    with open(os.path.join(ROOT, name)) as fh:
        return json.load(fh)


def test_first_50_names_are_the_drivers_correctness_sample():
    assert list(E.queries())[:50] == list(_record("CORRECTNESS_r14.json"))


def test_entries_are_the_full_gate_inventory():
    full = _record("CORRECTNESS_full_r14.json")["entries"]
    assert set(E.queries()) == set(full)


def test_every_entry_has_an_oracle():
    assert set(E.oracle_sql()) == set(E.queries())


def test_every_entry_declares_its_module_family():
    for fam in registry.family_modules():
        assert fam.name in registry.FAMILIES
        for e in fam.entries:
            assert e.family == fam.name
    families = {e.family for e in registry.entries().values()}
    assert families == set(registry.FAMILIES)


def test_a_name_declared_by_two_families_fails_at_assembly():
    a, b = Family("a"), Family("b")
    a.add("x", lambda spark, sf_dir: None, "SELECT 1")
    b.add("x", lambda spark, sf_dir: None, "SELECT 1")
    with pytest.raises(ValueError, match="'x' declared by both"):
        registry.entries([a, b], order=["x"])


def test_order_and_declarations_must_agree():
    a = Family("a")
    a.add("x", lambda spark, sf_dir: None, "SELECT 1")
    with pytest.raises(ValueError, match="differ"):
        registry.entries([a], order=["x", "y"])
    bench_only = Family("b")
    bench_only.add("t", None, None, bench=lambda spark, sf_dir: None)
    assert list(registry.entries([a, bench_only], order=["x"])) \
        == ["x", "t"]
