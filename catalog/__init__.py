"""The query catalog, one module per family of queries.

Each ``q_<name>(spark, sf_dir) -> DataFrame`` builder registers under
``<name>`` through :func:`query`, together with its DuckDB twin, so a
query and its oracle sit side by side. The twin is one of:

- the SQL text;
- a zero-argument callable that returns it (SQL generated from seeded
  literals, or too costly to build at import);
- None for a rows-only query: approximate or engine-specific by design,
  each with a ``*_verified`` md5- or literal-plane twin that pins its
  mechanism.

``__spark_entry__.py`` sets the order of ``queries()`` and applies the
oracle substitution pass.
"""

from __future__ import annotations

import importlib
import sys
from collections.abc import Callable

from pyspark import cloudpickle

#: the family modules, imported in this order by load()
FAMILIES = (
    "relational", "tpch", "temporal", "stats", "inference", "sketches",
    "text", "tokenizer", "dedup", "similarity", "ann", "graph", "media",
    "multimodal", "streaming", "corpus",
)

#: name → (builder, oracle)
REGISTRY: dict[str, tuple[Callable, str | Callable[[], str] | None]] = {}

# Python workers may not have this directory on their path, so the UDFs
# and helpers defined here travel by value, not as module references.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def query(oracle: str | Callable[[], str] | None = None):
    """Register the decorated ``q_<name>`` builder under ``<name>`` with
    its DuckDB twin."""

    def register(fn):
        name = fn.__name__.removeprefix("q_")
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        REGISTRY[name] = (fn, oracle)
        return fn

    return register


def load() -> dict[str, tuple[Callable, str | Callable[[], str] | None]]:
    """Import every family module; the registry they fill."""
    for family in FAMILIES:
        importlib.import_module(f"{__name__}.{family}")
    return REGISTRY
