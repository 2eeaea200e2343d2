"""The registry contract the external oracle checker reads: the query keys,
the first 50 of them in order, and every oracle string byte for byte.

``tests/data/registry_snapshot.json`` was generated from the registry before
it was regrouped into domain modules:

    snap = {"count": len(q), "first_50": list(q)[:50],
            "oracle_sha256": {k: sha256(v.encode()).hexdigest()
                              for k, v in sorted(o.items())}}

with ``q, o = queries(), oracle_sql()``. A change that moves a query or its
oracle keeps this test green; a change that edits an oracle's text, drops or
adds a key, or reorders the driver's window fails it.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import pkgutil
from pathlib import Path

import __spark_entry__ as entry
from datafusion_delta_sharing_spark import harness

SNAPSHOT = json.loads(
    (Path(__file__).parent / "data" / "registry_snapshot.json").read_text())


def test_keys_and_window_order_match_the_snapshot():
    queries, oracles = entry.queries(), entry.oracle_sql()
    assert len(queries) == SNAPSHOT["count"]
    assert set(queries) == set(oracles) == set(SNAPSHOT["oracle_sha256"])
    assert list(queries)[:50] == SNAPSHOT["first_50"]
    assert list(oracles)[:50] == SNAPSHOT["first_50"]


def test_every_oracle_string_is_byte_identical():
    changed = sorted(
        k for k, sql in entry.oracle_sql().items()
        if hashlib.sha256(sql.encode()).hexdigest()
        != SNAPSHOT["oracle_sha256"][k])
    assert not changed


def test_registry_is_organized_by_domain():
    modules = {m.name for m in pkgutil.iter_modules(harness.__path__)}
    assert not [m for m in modules
                if m.startswith(("extensions", "tierb"))]
    assert len(entry._MODULE_ORDER) <= 7
    assert modules == set(entry._MODULE_ORDER) | {"mockserver"}


def test_each_module_pairs_its_queries_with_its_oracles():
    for name in entry._MODULE_ORDER:
        mod = importlib.import_module(f"{harness.__name__}.{name}")
        keys = {fn_name[2:] for fn_name, fn in vars(mod).items()
                if fn_name.startswith("q_") and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__}
        assert keys == set(mod.ORACLES), name
