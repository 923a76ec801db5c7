"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the CDC engine end-to-end on
sf0.001); ``queries()``/``oracle_sql()`` expose the operator catalog from
``read_comp_data_pipeline_spark.plans.queries`` — one entry per implemented
operator from SURVEY.md §2 plus the training-data pipeline extensions, each
with a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from read_comp_data_pipeline_spark.plans.queries import (  # noqa: E402
    all_oracles,
    all_queries,
    cdc_replay_final_state,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the CDC engine end-to-end — WAL derived from sf0.001
    events, replayed epoch-by-epoch (compaction → extraction → MERGE
    into a snapshot table), returning the sha256-stamped final state."""
    return cdc_replay_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
