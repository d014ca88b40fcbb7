"""DataFrames over rows built on the driver.

Every small frame the engine assembles in Python (query vectors, id
batches, WAL batches, empty results, lookup tables) goes through
:func:`local_frame`. ``spark.createDataFrame(<list>, schema)`` would plan
such a list as a Python RDD (``Scan ExistingRDD``): every consumer of the
frame re-runs it through Python workers, a 4-task stage that mostly waits
on worker start-up. An Arrow table instead plans as a JVM ``LocalRelation``
(``LocalTableScan``) whatever ``spark.sql.execution.arrow.pyspark.enabled``
says, so broadcasting or writing it needs no Python worker at all.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples or Rows in field order; a struct value may be a
    tuple or a dict) as a DataFrame with exactly ``schema`` (a StructType
    or a DDL string), planned as a LocalRelation. Zero rows keep the
    schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
