"""End-to-end pipelines (SURVEY.md §3): CSV window load, REST API
load, HTML scrape load — each extract → transform → idempotent keyed
load → sync, plus the orchestrator that runs the three at once.

The reference runs API, then CSV, then scraper one after another
(etl/__init__.py:11-16) only because it is a plain script. The three
sources share no table, no processed file and no session config, and
each degrades on its own (stats or ``None``, never raises), so
``run_etl`` runs them concurrently, each in its own failure domain: a
run takes about as long as its slowest source."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target

from finance_pipeline_spark.logging_utils import get_logger
from finance_pipeline_spark.pipelines.api_pipeline import run_api_process
from finance_pipeline_spark.pipelines.config import PipelineConfig
from finance_pipeline_spark.pipelines.csv_pipeline import run_csv_loading_process
from finance_pipeline_spark.pipelines.scrape_pipeline import run_web_scrapping_process

log = get_logger(__name__)


def run_etl(spark, conf: PipelineConfig) -> dict:
    """main.py:4-6 / etl/__init__.py:11-16 — the three source pipelines,
    run concurrently on threads named ``etl-api``, ``etl-csv`` and
    ``etl-scrape``. Their Spark jobs inherit the caller's job group,
    local properties and tags.

    Returns ``{"api", "csv", "scrape"}`` (in that order) once all three
    have finished; each value is the pipeline's stats or ``None`` when
    it degraded. Should a pipeline raise, the other two still run to
    completion, then the first exception in api → csv → scrape order is
    re-raised and any later one is logged."""
    # Looked up at call time, so a patched module attribute is what runs.
    pipelines = {
        "api": run_api_process,
        "csv": run_csv_loading_process,
        "scrape": run_web_scrapping_process,
    }
    with ThreadPoolExecutor(max_workers=len(pipelines)) as pool:
        futures = {
            name: pool.submit(_source_target(spark, f"etl-{name}", fn), spark, conf)
            for name, fn in pipelines.items()
        }
    raised = [(name, exc) for name, f in futures.items() if (exc := f.exception())]
    for name, exc in raised[1:]:
        log.error("ETL:%s pipeline raised as well", name, exc_info=exc)
    return {name: future.result() for name, future in futures.items()}


def _source_target(spark, thread_name: str, fn):
    """``fn`` wrapped to run on a worker thread named ``thread_name``
    under the caller's Spark local properties and tags. Each wrap takes
    its own copy of the properties, so a job group one pipeline sets
    never leaks into another."""

    @inheritable_thread_target(spark)
    def target(*args):
        threading.current_thread().name = thread_name
        return fn(*args)

    return target
