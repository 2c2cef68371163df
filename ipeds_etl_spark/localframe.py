"""Driver-resident frames built from Arrow tables.

A frame the driver already holds (landed pages, lineage rows, an empty
merge target) is handed to Spark as a ``pyarrow.Table``. Such a frame
plans as ``LocalTableScan`` in every session, whatever its Arrow conf:
reading it runs no Spark job and starts no Python worker, and a filter
or projection over it is folded into the local relation by the
optimizer. A list of Python rows plans as ``Scan ExistingRDD`` instead,
whose every read is a job that starts Python workers.

Timestamps are sent as UTC instants (the Arrow type Spark derives from
``TimestampType``), so the stored instant does not depend on
``spark.sql.session.timeZone``. Give them as timezone-aware datetimes.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession,
    schema: T.StructType,
    columns: Mapping[str, Sequence] | None = None,
) -> DataFrame:
    """A frame of ``schema`` holding ``columns`` (name → values, every
    field present), or no rows when ``columns`` is None."""
    arrow = to_arrow_schema(schema)
    if columns is None:
        table = arrow.empty_table()
    else:
        table = pa.table(
            [pa.array(columns[f.name], f.type) for f in arrow], schema=arrow
        )
    return spark.createDataFrame(table, schema)
