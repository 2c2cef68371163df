"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship yearly-KPI rollup on sf0.001.
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the training-data extension set; implementations live
in the domain modules of ``ipeds_etl_spark.queries``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ipeds_etl_spark import queries as _q  # noqa: E402
from ipeds_etl_spark.queries.etl import q_kpi_yearly  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_kpi_yearly(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
