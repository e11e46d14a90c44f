"""Structured step logging (SURVEY.md §2.8 M6) — mirrors the
reference's logging.basicConfig setup (etl/config.py:8-12): one
stream handler, timestamped level-tagged lines, per-step info/error
calls throughout the pipelines."""

from __future__ import annotations

import logging

_CONFIGURED = False


def get_logger(name: str = "finance_pipeline_spark") -> logging.Logger:
    global _CONFIGURED
    if not _CONFIGURED:
        logging.basicConfig(
            level=logging.INFO,
            # threadName tells run_etl's concurrent sources apart
            # (etl-api, etl-csv, etl-scrape).
            format="%(asctime)s [%(levelname)s] %(threadName)s %(message)s",
            handlers=[logging.StreamHandler()],
        )
        _CONFIGURED = True
    return logging.getLogger(name)
