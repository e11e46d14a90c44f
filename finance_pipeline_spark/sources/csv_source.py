"""CSV sources (SURVEY.md §2.1 S1-S3).

The reference reads CSVs with inferred dtypes (pd.read_csv at
etl/csv_loader.py:49,90); here every scan declares its schema — on a
cluster, inference is an extra full pass over 100 TB and a schema
drift hazard. The reference's empty-input guard (``df.empty``,
etl/csv_loader.py:91-93) runs in ``pipelines.csv_pipeline`` as
``isEmpty`` on the checkpointed window, so it reads computed rows
instead of scanning the file again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """S1/S2/S3: schema-pinned CSV scan. Malformed values become null
    (PERMISSIVE + non-ANSI), matching pandas ``errors="coerce"``."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
