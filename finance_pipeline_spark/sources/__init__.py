"""Edge connectors: CSV (explicit schema + empty guard), REST-JSON
(injectable fetch, offline fixtures), HTML scrape (stdlib parser,
driver-side or mapInPandas-batched)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, columns: Sequence[Sequence], schema: T.StructType
) -> DataFrame:
    """Driver-side values (one sequence per field of ``schema``) → a
    DataFrame whose plan leaf is a JVM ``LocalRelation``.

    The values cross to the JVM once, as an Arrow table, so no later
    action starts a Python worker. ``createDataFrame(<python list>)``
    would instead leave a Python-RDD leaf (``ExistingRDD``) that every
    action recomputes in Python workers. Naive datetimes are read as
    UTC, whatever the host's zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    arrays = [
        pa.array(values, type=field.type)
        for values, field in zip(columns, arrow_schema, strict=True)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)
