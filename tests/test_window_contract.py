"""Pin the driver check-window contract: the first 50 registry entries
are exactly `_WINDOW` (the driver's correctness gate covers them), every
window name resolves, and every registry query has an oracle twin."""

from __future__ import annotations


def test_window_is_exactly_50_unique_known_names():
    from interop_spark.queries import _WINDOW, all_oracles, all_queries

    assert len(_WINDOW) == 50
    assert len(set(_WINDOW)) == 50
    q = all_queries()
    o = all_oracles()
    assert list(q)[:50] == list(_WINDOW)
    assert set(o) == set(q)


def test_entry_module_contract():
    import __spark_entry__ as em

    q = em.queries()
    o = em.oracle_sql()
    assert set(o) == set(q)
    assert callable(next(iter(q.values())))


def test_every_query_function_is_registered():
    """Every module-level ``q_*`` function defined in a registry module
    is a registered query, so no second registry of unregistered rows
    can grow beside the driver's."""
    import importlib
    import inspect

    from interop_spark.queries import _MODULES, all_queries

    registered = set(all_queries().values())
    stray = [
        f"{modname}.{name}"
        for modname in _MODULES
        for name, fn in vars(importlib.import_module(modname)).items()
        if name.startswith("q_")
        and inspect.isfunction(fn)
        and fn.__module__ == modname
        and fn not in registered
    ]
    assert not stray, stray
