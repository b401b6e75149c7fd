"""The registry's size is pinned, so a gate module that stops importing
fails the suite instead of quietly shrinking it."""

from __future__ import annotations

import pkgutil

import tpg_weather_etl_spark
from tpg_weather_etl_spark import registry

REGISTRY_SIZE = 196


def test_registry_size_is_pinned():
    assert len(registry.all_queries()) == REGISTRY_SIZE
    assert len(registry.all_oracles()) == REGISTRY_SIZE


def test_every_query_module_contributes():
    on_disk = {m.name for m in pkgutil.iter_modules(
        tpg_weather_etl_spark.__path__) if m.name.startswith("queries_")}
    registered = {m.__name__.rsplit(".", 1)[1] for m in registry._MODULES}
    assert registered == on_disk
    names = set(registry.all_queries())
    for m in registry._MODULES:
        assert m.QUERIES, m.__name__
        assert set(m.QUERIES) <= names, m.__name__
