"""The registry contract: every registered query carries a DuckDB oracle
(so tests/test_oracle_parity.py checks all of them), the registry keeps
registration order, and retired queries stay retired while the exact twin
each one duplicated stays registered."""

from __future__ import annotations

import importlib
import inspect
import re

import pytest

from iot_big_data_engineering_spark import registry


def test_every_query_has_an_oracle_in_registration_order():
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert qs.keys() == oracles.keys()
    assert len(qs) == 206
    assert all(isinstance(o, str) and o.strip() for o in oracles.values())

    # registration order, no rotation: each module's queries appear in
    # the order their @register decorators run in its source
    by_module: dict[str, list[str]] = {}
    for name, q in registry.all_queries().items():
        by_module.setdefault(q.fn.__module__, []).append(name)
    for module, names in by_module.items():
        src = inspect.getsource(importlib.import_module(module))
        assert names == re.findall(r'@register\(\s*"(\w+)"', src), module

    with pytest.raises(TypeError):
        registry.register("x")  # the oracle is required


def test_executed_retirements():
    """Every retired name is GONE from the registry, carries a note in
    registry._RETIRED, and is twinned with a still-registered exact
    sibling."""
    retired = registry._RETIRED
    assert set(retired) == set(registry._RETIRED_TWINS)
    names = set(registry.all_queries())
    for retiree, note in retired.items():
        assert retiree not in names, f"{retiree} must be deregistered"
        assert note, "each retirement carries a one-line note"
        twin = registry._RETIRED_TWINS[retiree]
        assert twin in names, (
            f"{retiree}'s exact sibling {twin} must remain registered "
            "(the twin condition)"
        )
