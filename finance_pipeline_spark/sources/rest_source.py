"""REST API source (SURVEY.md §2.1 S4) — the Frankfurter-shaped
JSON → rows connector.

The reference does requests.get + pandas flattening
(etl/api_fetcher.py:40-56,59-97). Here the HTTP edge is an injectable
``fetch`` callable (tests/CI run fully offline against canned
fixtures; production injects a real client), and the flatten is the
Spark-native D9 map-explode: the payload lands as ONE row with a
``map<string,double>`` rates column, then ``explode`` fans it out —
so the transform is a Catalyst plan, not driver-side pandas, and the
same plan serves a 1-payload batch or a million-payload backfill.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_pipeline_spark.logging_utils import get_logger

log = get_logger(__name__)

Fetcher = Callable[[], str]  # returns the raw JSON body


def file_fetcher(path: str | Path) -> Fetcher:
    """Offline fixture fetcher — reads a canned Frankfurter-shaped JSON
    body from disk. The default in this container (no network)."""

    def fetch() -> str:
        return Path(path).read_text()

    return fetch


def http_fetcher(
    url: str,
    *,
    timeout: float = 10.0,
    retries: int = 3,
    backoff: float = 0.5,
    opener: Callable[[str, float], str] | None = None,
    sleep: Callable[[float], None] | None = None,
) -> Fetcher:
    """Production HTTP fetcher: stdlib urllib GET with a hard timeout
    and bounded exponential-backoff retry — the thin client the
    reference ships as ``requests.get(timeout=10)`` + error handling
    (etl/api_fetcher.py:40-56, etl/web_scraper.py:36-45), completed
    with the retry loop a scheduled pipeline needs against transient
    network faults.

    Retry policy: transient failures (socket/URL errors, HTTP 5xx,
    timeouts) retry up to ``retries`` times with doubling backoff;
    HTTP 4xx fails immediately (the request is wrong — retrying can't
    fix it). This runs DRIVER-side only, for the one-payload S4/S5
    edges; a bulk HTTP backfill would instead map URL partitions
    through ``mapInPandas`` with per-executor clients.

    ``opener``/``sleep`` are injectable so tests exercise the full
    failure matrix offline (this container has no network)."""
    import time
    import urllib.error
    import urllib.request

    def default_opener(u: str, t: float) -> str:
        with urllib.request.urlopen(u, timeout=t) as resp:  # noqa: S310
            return resp.read().decode("utf-8")

    get = opener or default_opener
    wait = sleep or time.sleep

    def fetch() -> str:
        last: Exception | None = None
        for attempt in range(retries + 1):
            try:
                return get(url, timeout)
            except urllib.error.HTTPError as e:
                if 400 <= e.code < 500:
                    raise  # client error: retrying cannot help
                last = e
            except (urllib.error.URLError, TimeoutError, OSError) as e:
                last = e
            if attempt < retries:
                pause = backoff * (2**attempt)
                log.warning(
                    "HTTP fetch %s failed (attempt %d/%d): %s — retrying in %.1fs",
                    url, attempt + 1, retries + 1, last, pause,
                )
                wait(pause)
        if last is None:  # the loop never ran
            raise ValueError(f"retries must be >= 0, got {retries}")
        raise last

    return fetch


def rates_from_json(
    spark: SparkSession,
    raw_json: str,
    base_currency: str = "EUR",
) -> DataFrame:
    """One JSON payload → (currency, base_currency, exchange_rate,
    date, timestamptz) rows.

    timestamptz = 16:00 CET on the quote date converted to UTC
    (etl/api_fetcher.py:72-82; constants etl/config.py:32-33) — done
    with ``to_utc_timestamp(.., "CET")`` so Catalyst owns the zone
    math, DST included.
    """
    payload = json.loads(raw_json)  # driver-side validation of the envelope
    if "rates" not in payload or "date" not in payload:
        raise ValueError("payload missing 'rates'/'date'")
    row = spark.createDataFrame(
        [(payload["date"], json.dumps(payload["rates"]))], "date_str string, rates string"
    )
    exploded = row.select(
        "date_str",
        F.explode(F.from_json("rates", "map<string,double>")).alias(
            "currency", "exchange_rate"
        ),
    )
    return exploded.select(
        "currency",
        F.lit(base_currency).alias("base_currency"),
        "exchange_rate",
        F.to_date("date_str").alias("date"),
        F.to_utc_timestamp(
            F.concat(F.col("date_str"), F.lit(" 16:00:00")), "CET"
        ).alias("timestamptz"),
    )


def fetch_rates(
    spark: SparkSession, fetch: Fetcher, base_currency: str = "EUR"
) -> DataFrame | None:
    """S4 end-to-end: fetch (network or fixture) → rows; None on fetch
    or envelope failure, matching the reference's early-exit contract
    (etl/api_fetcher.py:253-256)."""
    try:
        body = fetch()
    except Exception as e:  # noqa: BLE001 — connector edge: degrade, don't raise
        log.error("REST fetch failed: %s", e)
        return None
    try:
        return rates_from_json(spark, body, base_currency)
    except (ValueError, json.JSONDecodeError) as e:
        log.error("REST payload invalid: %s", e)
        return None
