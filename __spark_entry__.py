"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``datafusion_functions_financial_spark``;
this module only adapts the registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may import this file from any CWD; make the package
# resolvable relative to this file.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from datafusion_functions_financial_spark.plans.registry import (  # noqa: E402
    all_oracles,
    all_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: all four reference indicators (SMA/EMA/RSI/MACD)
    computed in one mapInPandas pass over the events series
    (``indicators._map_series``)."""
    return all_queries()["ind_combined_events"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
