"""Idempotent keyed writes (SURVEY.md §2.2 K4/K5/K6/K8) — the single
most important semantic in the reference: ``UNIQUE(currency,
timestamptz)`` + ``INSERT OR IGNORE`` with inserted/skipped accounting
(/root/reference/etl/csv_loader.py:148-218, etl/api_fetcher.py:155-195,
etl/web_scraper.py:152-178). Re-runs are no-ops; duplicate keys are
skipped, not errors.

Spark has no UNIQUE constraint, so uniqueness is the writer's job:

    new_rows = incoming.dropDuplicates(keys)          # in-batch dedup
                      .join(existing, keys, "left_anti")  # vs the table
    new_rows.write.mode("append").parquet(table)

The anti-join broadcasts whichever side AQE finds small (a day's
increment vs years of history → the increment); at 100 TB the table
side would be bucketed/partitioned by key so the anti-join prunes to
matching partitions. The read-modify-write is non-atomic across
concurrent writers, so a ``writer_lock`` (O_EXCL lockfile) makes a
second concurrent writer fail LOUDLY (``ConcurrentWriteError``)
instead of silently double-inserting; the reference itself is a
single-writer daily batch (GitHub Actions cron), and a true
multi-writer deployment uses ``sinks.txn_table.TxnKeyedTable`` (a
Delta-protocol commit log with ``MERGE WHEN NOT MATCHED`` semantics)
instead.

K6's bulk-then-row-loop fallback collapses away: the anti-join gives
the intended "insert new, skip dupes, count both" uniformly (the
reference's bulk path actually *throws* on duplicates and punts to a
row loop — a wart SURVEY.md §3.2 says not to reproduce).
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_pipeline_spark.logging_utils import get_logger

log = get_logger(__name__)


@dataclass(frozen=True)
class WriteStats:
    inserted: int
    skipped: int


def table_exists(path: str) -> bool:
    p = Path(path)
    return p.exists() and any(p.glob("*.parquet"))


def ensure_table_dir(path: str) -> None:
    """K4 create-if-not-exists, M4 directory bootstrap
    (etl/csv_loader.py:21-33): the parquet dataset directory is the
    'table'; creating it is idempotent."""
    Path(path).mkdir(parents=True, exist_ok=True)


def drop_table(path: str) -> bool:
    """K8 DROP TABLE IF EXISTS (scripts/drop_table_db.py:17)."""
    p = Path(path)
    if p.exists():
        shutil.rmtree(p)
        log.info("dropped table at %s", path)
        return True
    return False


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    if not table_exists(path):
        return None
    return spark.read.parquet(path)


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a keyed append while another held the
    table's writer lock. The parquet keyed table is single-writer by
    design (see the module docstring); this error is the loud
    alternative to the silent double-insert two interleaved writers
    would otherwise produce."""


@contextmanager
def writer_lock(path: str, owner: str = ""):
    """Single-writer mutual exclusion for a parquet keyed table: an
    ``O_CREAT|O_EXCL`` lockfile (atomic on POSIX local/NFSv3+ file
    systems) held across the snapshot-read → anti-join → publish
    critical section. A concurrent acquirer gets ``ConcurrentWriteError``
    immediately — fail-fast, no queueing, which is the right behavior
    for the double-fired-cron case this guards against.

    The underscore-prefixed filename keeps it invisible to parquet's
    FileIndex, like the staging dirs. A crashed writer leaves the lock
    behind and every later write fails LOUDLY naming the file — that is
    deliberate (auto-takeover would reintroduce the race); an operator
    confirms the dead writer and removes the file. Object stores
    without atomic create-if-absent need the transactional-format
    upgrade path instead (``TxnKeyedTable``, module docstring)."""
    import os
    import time

    ensure_table_dir(path)
    lock = Path(path) / "_writer.lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            holder = lock.read_text().strip()
        except OSError:
            holder = "<unreadable>"
        raise ConcurrentWriteError(
            f"keyed table {path} is locked by another writer ({holder}); "
            f"if that writer is dead, remove {lock} to recover"
        ) from None
    try:
        os.write(fd, f"pid={os.getpid()} ts={time.time():.0f} owner={owner}\n".encode())
        os.close(fd)
        yield
    finally:
        lock.unlink(missing_ok=True)


def idempotent_append(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
) -> WriteStats:
    """K5+K6: first-writer-wins keyed append with accounting.

    Returns (inserted, skipped) where skipped counts both in-batch
    duplicates and rows whose key already exists in the table —
    exactly the numbers the reference logs per load
    (etl/csv_loader.py:215-217).
    """
    with writer_lock(path, owner="idempotent_append"):
        return _locked_append(spark, incoming, path, keys)


def _locked_append(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
) -> WriteStats:
    total = incoming.count()
    # In-batch survivor: deterministic pick (min over the non-key
    # columns) rather than bare dropDuplicates — a conflicting batch
    # must produce the same table on every run/partitioning. (The
    # reference's row loop keeps "first in insert order"; a DataFrame
    # has no row order, so value-order is the stable analogue.)
    value_cols = [c for c in incoming.columns if c not in keys]
    if value_cols:
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy(*value_cols)
        deduped = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        deduped = incoming.dropDuplicates(keys)
    existing = read_table(spark, path)
    if existing is not None:
        new_rows = deduped.join(
            existing.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
        )
    else:
        new_rows = deduped
    # created_at ingest-audit column (DEFAULT CURRENT_TIMESTAMP in the
    # reference DDLs) — the incremental-sync watermark.
    stamped = new_rows.withColumn("created_at", F.current_timestamp())
    # Write-then-count: ONE job writes the increment to a staging dir
    # under the table (underscore prefix → invisible to parquet
    # FileIndex), `inserted` comes from the written footers (metadata
    # read, no second plan execution — replaces the r2 full-increment
    # persist()), and files move into the table only when non-empty:
    # a no-op re-run leaves zero files behind, and readers never see a
    # partially-written part file.
    import uuid

    staging = Path(path) / f"_staging_{uuid.uuid4().hex}"
    try:
        stamped.write.mode("overwrite").parquet(str(staging))
        parts = sorted(staging.glob("*.parquet"))
        inserted = _footer_row_count(parts)
        if inserted:
            run_id = staging.name.removeprefix("_staging_")
            for part in parts:
                part.rename(Path(path) / f"{run_id}-{part.name}")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    stats = WriteStats(inserted=inserted, skipped=total - inserted)
    log.info(
        "keyed append to %s: %d inserted, %d skipped", path, stats.inserted, stats.skipped
    )
    return stats


def _footer_row_count(parts) -> int:
    """Row count from parquet footers — pure metadata, no data scan.
    (On an object store you'd list + read footers the same way; this
    is what `spark.read.parquet(...).count()` compiles to for an
    unfiltered parquet scan, minus the job-scheduling overhead.)"""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)


def top_rows(spark: SparkSession, path: str, order_cols, n: int = 10) -> DataFrame:
    """The reference's post-load inspection query (P1+O1,
    etl/csv_loader.py:228-233): ORDER BY ... LIMIT n — Spark plans
    TakeOrderedAndProject (true top-k, no full sort)."""
    df = read_table(spark, path)
    if df is None:
        raise FileNotFoundError(path)
    return df.orderBy(*order_cols).limit(n)
