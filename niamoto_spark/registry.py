"""Plugin registry.

Mirrors the reference's contract — ``@register(name, PluginType)`` decorator
and a per-type registry (reference: src/niamoto/core/plugins/base.py:31-38 and
:438-494) — but registered objects are *Spark operator callables*: functions
(or classes with a ``transform``/``load_data`` method) that take DataFrames
and validated params and return DataFrames / Column expressions.

Each aggregate widget is registered on the kernel function in
``refshapes.py`` that the transform runs, and ``refshapes.kernel`` looks
its function up here.  The other plugin names are dispatched by the
pipeline itself (``Pipeline._transform_group`` and ``_widget_json``), but
each is registered on what it runs: each relation plugin on its loader in
``operators/loaders.py``, and each ``class_object_*``,
``geospatial_extractor`` and ``multi_column_extractor`` widget on its JSON
shaper in ``refshapes.py``.  The registry also serves the ``plugins`` CLI
listing, the deploy step's platform lookup (``deployers.run_deploy``) for
platforms it does not handle itself, and name checks: tests assert that
the reference's plugin names are registered.
"""

from __future__ import annotations

import enum
from typing import Any


class PluginType(str, enum.Enum):
    # Same five kinds as the reference (base.py:31-38).
    LOADER = "loader"
    TRANSFORMER = "transformer"
    EXPORTER = "exporter"
    WIDGET = "widget"
    DEPLOYER = "deployer"


class PluginRegistryError(Exception):
    pass


_REGISTRY: dict[PluginType, dict[str, Any]] = {t: {} for t in PluginType}


def register(name: str, plugin_type: PluginType = PluginType.TRANSFORMER):
    """Class/function decorator registering a plugin under (type, name)."""

    def deco(obj):
        existing = _REGISTRY[plugin_type].get(name)
        if existing is not None and existing is not obj:
            raise PluginRegistryError(
                f"duplicate plugin {plugin_type.value}/{name}")
        _REGISTRY[plugin_type][name] = obj
        obj.__plugin_name__ = name
        obj.__plugin_type__ = plugin_type
        return obj

    return deco


def get_plugin(name: str, plugin_type: PluginType) -> Any:
    if name not in _REGISTRY[plugin_type]:
        # lazy autoload: callers shouldn't need to know about load_all()
        load_all()
    try:
        return _REGISTRY[plugin_type][name]
    except KeyError:
        raise PluginRegistryError(
            f"unknown plugin {plugin_type.value}/{name}; "
            f"known: {sorted(_REGISTRY[plugin_type])}") from None


def list_plugins(plugin_type: PluginType | None = None) -> dict[str, list[str]]:
    if plugin_type is not None:
        return {plugin_type.value: sorted(_REGISTRY[plugin_type])}
    return {t.value: sorted(_REGISTRY[t]) for t in PluginType}


def load_all() -> None:
    """Import every operator/exporter module so its @register
    decorators run.  The reference cascade-loads plugin dirs
    (plugin_loader.py); here discovery walks the operators package so
    new modules register without editing a list."""
    import importlib
    import pkgutil

    import niamoto_spark.operators as _ops

    for info in pkgutil.iter_modules(_ops.__path__):
        importlib.import_module(f"niamoto_spark.operators.{info.name}")
    for mod in (
        "niamoto_spark.exporters.json_api",
        "niamoto_spark.exporters.dwc",
        "niamoto_spark.exporters.dwc_archive",
        "niamoto_spark.exporters.html_site",
        "niamoto_spark.exporters.humboldt",
        "niamoto_spark.exporters.jsonl",
        "niamoto_spark.refshapes",
        "niamoto_spark.widgets",
        "niamoto_spark.deployers",
    ):
        importlib.import_module(mod)
