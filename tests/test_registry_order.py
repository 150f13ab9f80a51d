"""The correctness driver samples the first 50 names from
``__spark_entry__.queries()``. No list pins that window: the priority
order is the registry's registration order, which ``all_queries()``
returns. These tests keep that order honest: every name resolves to its
own query, no name is registered twice, and neither ``all_queries()`` nor
the driver contract drops or reorders a registered query.
"""

from __future__ import annotations

import pytest

from end_to_end_data_engineering_and_ml_system_spark.plans.registry import (
    _REGISTRY,
    _ensure_loaded,
    all_queries,
    register,
)

DRIVER_WINDOW = 50


def test_priority_names_exist():
    qs = all_queries()
    broken = [n for n, q in qs.items() if q.name != n or not callable(q.build)]
    assert not broken, f"names that do not resolve to their own query: {broken}"


def test_priority_no_duplicates():
    names = list(all_queries())
    assert len(set(names)) == len(names)
    # a second @register under a taken name raises and leaves the first
    taken = _REGISTRY[names[0]]
    with pytest.raises(ValueError, match="duplicate query name"):
        register(names[0])(lambda spark, sf_dir: None)
    assert _REGISTRY[names[0]] is taken


def test_driver_window_is_priority_list():
    import __spark_entry__ as entrymod

    window = list(entrymod.queries())[:DRIVER_WINDOW]
    assert window == list(all_queries())[:DRIVER_WINDOW]
    assert len(window) == DRIVER_WINDOW


def test_reorder_preserves_registry():
    _ensure_loaded()
    assert set(all_queries()) == set(_REGISTRY)
    assert len(all_queries()) == len(_REGISTRY)
    # registration order, unchanged
    assert list(all_queries()) == list(_REGISTRY)
