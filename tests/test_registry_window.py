"""The registry contract: every registered query carries a DuckDB oracle
(so tests/test_oracle_parity.py checks all of them), and the registry keeps
registration order."""

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

