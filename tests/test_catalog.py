"""The registered catalog behind the driver contract: every registered
query is in the order list and back, and the text the driver reads is
pinned byte for byte. Pure Python — no Spark session."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entrymod
import catalog

#: sha256 of "\n".join(queries()) — 274 names in the driver's order
QUERIES_SHA256 = "9e95275c1a3dd4f0162e194194ae0c4aaff3ccccacf0d381ea3500bd0bc46434"
#: sha256 of json.dumps(oracle_sql()) — 265 twins, in their order
ORACLE_SQL_SHA256 = "fde38c25a7fc5e250dd68117f4b4da4e1df4891e59cf4c2049e6ce94bb5f0454"


def test_registry_equals_the_order_list():
    registry = catalog.load()
    order = entrymod._ORDER
    assert len(order) == len(set(order)) == 274
    assert sorted(set(registry) - set(order)) == []  # registered, never run
    assert sorted(set(order) - set(registry)) == []  # ordered, never registered
    with_twin = {name for name, (_, oracle) in registry.items() if oracle is not None}
    assert len(entrymod._ORACLE_ORDER) == len(set(entrymod._ORACLE_ORDER))
    assert set(entrymod._ORACLE_ORDER) == with_twin


def test_each_builder_is_registered_under_its_own_name():
    for name, (fn, _) in catalog.load().items():
        assert fn.__name__ == f"q_{name}"
        assert fn.__module__.startswith("catalog.")


def test_queries_and_oracle_text_are_pinned():
    """Moving a query between modules must not move its place in
    queries() or change one byte of the oracle text the driver reads."""
    qs = entrymod.queries()
    assert len(qs) == 274
    got = hashlib.sha256("\n".join(qs).encode()).hexdigest()
    assert got == QUERIES_SHA256
    oracles = entrymod.oracle_sql()
    assert len(oracles) == 265
    got = hashlib.sha256(json.dumps(oracles).encode()).hexdigest()
    assert got == ORACLE_SQL_SHA256


def test_entry_module_exports_only_the_contract():
    """Internals are imported from the catalog module that owns them;
    the entry module re-exports no builder or helper."""
    leaked = [
        n
        for n, v in vars(entrymod).items()
        if callable(v)
        and getattr(v, "__module__", "").startswith("catalog")
    ]
    assert leaked == []
    for name in ("entry", "queries", "oracle_sql"):
        assert callable(getattr(entrymod, name))


def test_bpe_twins_read_the_view_the_training_ends_on(monkeypatch):
    """The merge depth is decided in catalog.tokenizer alone: at any
    depth, a twin that reads the trained BPE state after the shared
    training CTEs reads their last view, wherever the twin lives."""
    import re

    import catalog.tokenizer as tok

    registry = catalog.load()
    monkeypatch.setattr(tok, "_BPE_MERGES", tok._BPE_MERGES + 1)
    ctes = tok._bpe_train_ctes()
    readers = {}
    for name, (_, oracle) in registry.items():
        sql = oracle() if callable(oracle) else oracle
        if sql and ctes in sql:
            readers[name] = re.findall(r"FROM v(\d+)\b", sql.replace(ctes, ""))
    assert len(readers) >= 9, sorted(readers)
    stale = {n: v for n, v in readers.items() if set(v) - {str(tok._BPE_MERGES)}}
    assert stale == {}
    assert sum(1 for v in readers.values() if v) >= 8
