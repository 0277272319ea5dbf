"""Driver-side rows as a Spark frame, without a Python stage.

``spark.createDataFrame(list, schema)`` parallelizes the list as a
Python RDD, so every action over the frame runs one Python task per
partition (a Python worker round trip each) just to hand the rows to the
JVM. Built from a ``pyarrow.Table`` instead, the rows are shipped once as
Arrow batches and the frame is a local relation: reading it runs no
Python stage, and collecting it runs no Spark job.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as an Arrow-backed frame;
    ``schema`` is a StructType or a DDL string."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
