"""The query/oracle registry fails loudly: a module that does not import
must break the registry, not silently drop an operator family from the
bench and the oracle gate."""

from __future__ import annotations

import pytest

from elasticsearch_hbase_river_spark import registry


@pytest.mark.parametrize("collect", [registry.all_queries,
                                     registry.all_oracles])
def test_broken_registry_module_raises(monkeypatch, collect):
    monkeypatch.setattr(registry, "_MODULES", registry._MODULES + (
        "elasticsearch_hbase_river_spark.operators.no_such_family",))
    with pytest.raises(ModuleNotFoundError, match="no_such_family"):
        collect()
