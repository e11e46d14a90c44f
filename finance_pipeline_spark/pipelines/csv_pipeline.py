"""CSV window-load pipeline (etl/csv_loader.py:263-287, §3.2).

One Catalyst chain replaces the reference's two-hop
CSV→CSV→DataFrame flow: scan → date-parse(coerce) → window filter →
dedup → null-drop → positive-rate filter → derive timestamptz — the
window predicate sits directly on the scan (pushdown). The cleaned
window is computed once per run (``localCheckpoint(eager=True)``); the
empty-input guard, the debug CSV (the reference's intermediate file,
written but never re-read) and the keyed append all read the
checkpointed rows. So the history file is scanned once, and
``current_date()`` is evaluated once: the debug CSV and the loaded
table hold the same window even when a run straddles midnight UTC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_pipeline_spark.logging_utils import get_logger
from finance_pipeline_spark.pipelines.config import HISTORY_TABLE, PipelineConfig
from finance_pipeline_spark.pipelines.sync import sync_data
from finance_pipeline_spark.schemas import HISTORY_KEYS, RAW_HISTORY_CSV
from finance_pipeline_spark.sinks.csv_sink import write_overwrite
from finance_pipeline_spark.sinks.keyed_writer import WriteStats, idempotent_append, top_rows
from finance_pipeline_spark.sources.csv_source import read_csv

log = get_logger(__name__)


def transform_history(df: DataFrame, months: int) -> DataFrame:
    """P3+P4+P5+P6+D1+D2 composed (etl/csv_loader.py:52-58,96-108):
    window to the last N months, clean, derive timestamptz = date+10h
    UTC."""
    parsed = df.withColumn("date", F.to_date("date"))  # D1 coerce-to-null
    windowed = parsed.filter(
        (F.col("date") >= F.add_months(F.current_date(), -months))
        & (F.col("date") <= F.current_date())
    )
    cleaned = (
        windowed.dropDuplicates()
        .na.drop(subset=["currency", "exchange_rate", "date"])
        .filter(F.col("exchange_rate") > 0)
    )
    return cleaned.withColumn(
        "timestamptz",
        F.col("date").cast("timestamp") + F.expr("INTERVAL 10 HOURS"),
    )


def run_csv_loading_process(
    spark: SparkSession, conf: PipelineConfig
) -> WriteStats | None:
    log.info("⚙️ Starting ETL:CSV pipeline with %s", conf.raw_csv_path)
    if not conf.raw_csv_path:
        log.error("no raw CSV path configured")
        return None
    try:
        raw = read_csv(spark, conf.raw_csv_path, RAW_HISTORY_CSV)
    except Exception as e:  # noqa: BLE001 — missing file = pipeline abort
        log.error("Raw CSV not readable: %s", e)
        return None
    # One scan of the history file feeds the guard and both writers.
    df = transform_history(raw, conf.months).localCheckpoint(eager=True)
    if df.isEmpty():
        log.warning("CSV window produced no rows")
        return None
    # K1 debug artifact (the reference's intermediate file) — written,
    # not re-read.
    write_overwrite(df, f"{conf.processed_dir}/forex_rates_{conf.months}m.csv")
    stats = idempotent_append(spark, df, conf.table(HISTORY_TABLE), HISTORY_KEYS)
    if stats.inserted > 0:
        top_rows(
            spark,
            conf.table(HISTORY_TABLE),
            [F.col("timestamptz").desc(), F.col("currency").asc()],
        ).show(truncate=False)
        if conf.sync_transport:
            sync_data(
                spark,
                conf.table(HISTORY_TABLE),
                conf.sync_transport,
                source="csv",
                lookback_minutes=conf.sync_lookback_minutes,
                alert=conf.alert,
            )
        log.info("✅ ETL:CSV process completed successfully.")
    else:
        log.warning("⚠️ ETL:CSV completed with warnings (no new rows).")
    return stats
