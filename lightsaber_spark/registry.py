"""The query registry: one ``query()`` decorator, one pair of dicts.

Every catalog query registers here, from one of three modules —
``queries`` (the reference benchmark and SQL surface),
``pipeline_queries`` (the training-data pipeline families) and
``staged_queries`` (sketches, graph, sampling and robust-statistics
queries). Registration order is import order; :func:`catalog` imports
the three in that order, so a process that asks it first gets
``queries`` → ``pipeline_queries`` → ``staged_queries``.

The name lists other code needs are flags on the registration, kept
here in registration order:

- ``canonical`` — the reference's own benchmark suite (SURVEY §5),
  first in every driver sweep and in ``bench.py``'s stdout headline;
- ``eager`` — a bounded build-time action is allowed
  (``tests/test_lazy_build.py``); the reason sits on the decorator;
- ``watch`` — also reported in ``bench.py``'s stdout headline.

This module imports nothing from the catalog at load time, so
``lightsaber_spark`` and ``session`` stay free of the catalog's import
cost.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}
CANONICAL: list[str] = []
EAGER: list[str] = []
WATCH: list[str] = []

_MODULES = (
    "lightsaber_spark.queries",
    "lightsaber_spark.pipeline_queries",
    "lightsaber_spark.staged_queries",
)


def query(name: str, oracle: str | None = None, *, canonical: bool = False,
          eager: bool = False, watch: bool = False):
    """Register the decorated ``fn(spark, sf_dir) -> DataFrame`` as
    ``name``, with its DuckDB oracle twin (``None`` = rows-only by
    design). A name registered twice raises ``ValueError``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in SPARK_QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        for flag, names in ((canonical, CANONICAL), (eager, EAGER), (watch, WATCH)):
            if flag:
                names.append(name)
        return fn

    return deco


def catalog() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every catalog module and return ``(SPARK_QUERIES,
    ORACLE_SQL)`` in registration order."""
    for mod in _MODULES:
        importlib.import_module(mod)
    return SPARK_QUERIES, ORACLE_SQL
