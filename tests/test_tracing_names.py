"""The benchmark's ``--trace 1`` tracer patches engine functions by name
(``perfbench/tracing.py``). A refactor that renames or stops importing
one of them crashes traced runs; this guard fails in seconds instead."""

import importlib

from perfbench.tracing import GEO_LAYERS, OPERATOR_LAYERS

from osm_addr_bot_spark import pipeline


def test_operator_layer_names_resolve_on_pipeline():
    missing = [
        name for names in OPERATOR_LAYERS.values() for name in names
        if not callable(getattr(pipeline, name, None))
    ]
    assert not missing


def test_geo_layer_names_resolve_on_operator_modules():
    missing = []
    for modules in GEO_LAYERS.values():
        for mod_name, names in modules.items():
            mod = importlib.import_module(f"osm_addr_bot_spark.operators.{mod_name}")
            missing += [f"{mod_name}.{n}" for n in names if not callable(getattr(mod, n, None))]
    assert not missing
