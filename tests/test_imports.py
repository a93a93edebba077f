"""Every module of the package imports: a module that still imports a
deleted or renamed sibling fails here, not at the first query that
happens to reach it."""

from __future__ import annotations

import importlib
import pkgutil

import lightsaber_spark


def _reraise(name: str) -> None:
    raise  # the ImportError pkgutil caught while importing ``name``


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            lightsaber_spark.__path__, "lightsaber_spark.", onerror=_reraise
        )
    ]
    assert "lightsaber_spark.operators.window_agg" in names
    for name in names:
        importlib.import_module(name)
