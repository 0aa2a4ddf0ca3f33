"""Verification order (catalog.py): the driver samples a prefix of
``queries()``, so the ordering rule is contract surface. These tests pin it
against synthetic verdict histories."""

import importlib.util
import json
import os
import subprocess

from spark_states_spark import catalog


def test_verdict_green_rules():
    assert catalog._verdict_green(
        {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    )
    # any mismatch or error is not green
    assert not catalog._verdict_green(
        {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    )
    assert not catalog._verdict_green(
        {"rows_match": True, "schema_match": True, "hash_match": True, "err": "boom"}
    )
    # rows-only entries: green = ran to a row count
    assert catalog._verdict_green({"err": "no_oracle", "spark_rows": 150})
    assert not catalog._verdict_green({"err": "no_oracle", "spark_rows": None})
    assert not catalog._verdict_green(None)


def test_last_green_round_takes_newest(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
        "b": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
        "c": {"rows_match": False, "schema_match": True, "hash_match": False, "err": None},
    }))
    greens = catalog.last_green_round(str(tmp_path))
    assert greens == {"a": 3, "b": 1}  # c's red verdict never counts


def test_last_green_round_survives_garbage(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text("not json{")
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": "weird"}))
    assert catalog.last_green_round(str(tmp_path)) == {}


def test_verification_order_is_a_permutation():
    order = catalog.verification_order()
    assert sorted(order) == sorted(catalog.QUERIES)


def test_never_verified_entries_lead_the_order():
    greens = catalog.last_green_round()
    if not greens:  # fresh clone without history: registration order
        return
    order = catalog.verification_order()
    never = {n for n in catalog.QUERIES if n not in greens}
    assert set(order[: len(never)]) == never


def test_freshness_table_mentions_every_entry():
    table = catalog.freshness_table()
    for name in catalog.QUERIES:
        assert f"| {name} |" in table


def test_verification_order_is_never_green_then_oldest_green(monkeypatch):
    monkeypatch.setattr(catalog, "QUERIES", {
        "fresh": None, "tie_a": None, "never": None, "stale": None, "tie_b": None,
    })
    # "gone" is a history name without a registry entry: ignored
    greens = {"fresh": 9, "tie_a": 4, "stale": 2, "tie_b": 4, "gone": 1}
    order = catalog.verification_order(greens)
    assert order == ["never", "stale", "tie_a", "tie_b", "fresh"]


def test_verification_order_without_history_is_registration_order():
    assert catalog.verification_order({}) == list(catalog.QUERIES)


def test_driver_contract_needs_no_git(monkeypatch):
    """queries() must not shell out: the driver's sandbox may have no git."""
    calls = []

    def boom(*args, **kwargs):
        calls.append(args)
        raise OSError("no subprocess in the driver sandbox")

    monkeypatch.setattr(subprocess, "run", boom)
    monkeypatch.setattr(subprocess, "Popen", boom)
    assert set(catalog.ordered_queries()) == set(catalog.QUERIES)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    assert set(entry.queries()) == set(catalog.QUERIES)
    assert len(catalog.QUERIES) >= 192
    assert calls == []
