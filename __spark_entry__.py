"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementations live in airstrik_py_spark/ (SURVEY.md §2 slugs); this module
only re-exports the merged registry.  ``queries()`` order is registry-module
order: the modules of ``registry._MODULES`` in turn (airstrik core first —
kinematics, sessions, alarm, ...), each in its own ``QUERIES`` order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from airstrik_py_spark import registry  # noqa: E402

_QUERIES, _ORACLES = registry.collect()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the sessionized trip pipeline (the reference's raison
    d'être — airstrik.py:473-627) over the sf0.001 observation stream."""
    return _QUERIES["agg_trip_assembly"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each SQL-expressible query."""
    return dict(_ORACLES)
