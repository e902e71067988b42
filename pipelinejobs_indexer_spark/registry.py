"""Query/oracle registry driving ``__spark_entry__.py``.

Operator modules register each query with an optional DuckDB oracle SQL
string. ``load_all()`` imports every operator module exactly once so the
registry is fully populated before the driver enumerates it. ``QUERIES``
and ``ORACLE`` keep registration order; ``ORACLE_FP.json`` at the repo
root pins each oracle's text (``tests/test_parity.py`` checks it).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# The import order of the operator modules, and so the order in which
# ``QUERIES`` and ``ORACLE`` enumerate. Nothing re-sorts them afterwards.
_MODULES = [
    "pipelinejobs_indexer_spark.streaming.queries",
    "pipelinejobs_indexer_spark.llm.similarity",
    "pipelinejobs_indexer_spark.llm.dedup",
    "pipelinejobs_indexer_spark.llm.train",
    "pipelinejobs_indexer_spark.llm.text",
    "pipelinejobs_indexer_spark.llm.multimodal",
    "pipelinejobs_indexer_spark.plans.upsert",
    "pipelinejobs_indexer_spark.plans.indexing",
    "pipelinejobs_indexer_spark.plans.layout",
    "pipelinejobs_indexer_spark.functions.udfs",
    "pipelinejobs_indexer_spark.operators.aggregates",
    "pipelinejobs_indexer_spark.operators.sorts",
    "pipelinejobs_indexer_spark.operators.scans",
    "pipelinejobs_indexer_spark.operators.filters",
    "pipelinejobs_indexer_spark.operators.joins",
    "pipelinejobs_indexer_spark.operators.windows",
    "pipelinejobs_indexer_spark.operators.sets",
    "pipelinejobs_indexer_spark.functions.scalars",
]

_loaded = False


def register(
    name: str, sql: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query and (optionally) its DuckDB oracle. ``sql`` may be
    a zero-arg callable for oracles that are expensive to render (e.g. a
    precomputed VALUES LUT): it is resolved once in :func:`load_all`, so
    merely importing an operator module for its helpers stays cheap."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(mod)
    for n, v in ORACLE.items():  # resolve lazily-rendered oracle SQL
        if callable(v):
            ORACLE[n] = v()
    _loaded = True
