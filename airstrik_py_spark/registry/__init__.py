"""Query registry: every SURVEY.md §2 slug maps to a (Spark callable, DuckDB
oracle SQL) pair.  Submodules register into QUERIES/ORACLES; __spark_entry__
re-exports the merged dicts for the driver."""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Enumeration order of collect(): these modules in turn, each in its own
# QUERIES order.
_MODULES = (
    "kinematics_q",
    "sessions_q",
    "alarm_q",
    "stats_q",
    "search_q",
    "sinks_q",
    "text_q",
    "dedup_q",
    "similarity_q",
    "extras_q",
    "scale_q",
    "analytics_q",
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def slug_roots() -> dict[str, frozenset[str]]:
    """Per-slug hash-basis root for srcstate: the one registry module that
    defines the slug's query callable and registers it and its oracle."""
    queries, _ = collect()
    return {slug: frozenset({fn.__module__}) for slug, fn in queries.items()}


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """(queries, oracles) merged across the registry modules: slugs in
    _MODULES order, then each module's QUERIES order.  Oracles are put in
    the same order; modules do not list ORACLES in QUERIES order."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(f"airstrik_py_spark.registry.{mod_name}")
        mod_queries = getattr(mod, "QUERIES", {})
        dupes = set(mod_queries) & set(queries)
        if dupes:
            raise ValueError(f"duplicate registry slugs from {mod_name}: {sorted(dupes)}")
        queries.update(mod_queries)
        oracles.update(getattr(mod, "ORACLES", {}))
    oracles = {slug: oracles[slug] for slug in queries if slug in oracles}
    return queries, oracles
