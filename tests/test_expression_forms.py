"""One form per expression: no package module defines a function ``X``
beside its ``X_sql`` builder, and ``let_sql`` is the only binding form.
Pure introspection, no Spark session."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import retrieval_augmented_generation_rag_data_pipeline_spark as pkg


def _defined(mod) -> set[str]:
    """Functions and classes a module defines itself (not imports)."""
    return {
        n
        for n, v in vars(mod).items()
        if (inspect.isfunction(v) or inspect.isclass(v))
        and v.__module__ == mod.__name__
    }


def test_no_function_beside_its_sql_builder():
    twins = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        names = _defined(mod)
        twins += [f"{info.name}.{n}" for n in names if f"{n}_sql" in names]
    assert sorted(twins) == []


def test_let_sql_is_the_only_binding_form():
    from retrieval_augmented_generation_rag_data_pipeline_spark.functions import binding

    assert _defined(binding) == {"let_sql"}
