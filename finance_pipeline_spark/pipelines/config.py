"""Pipeline configuration — the engine-level analogue of
/root/reference/etl/config.py:14-33, minus the network URLs (sources
are injected; this container is offline) and with a parquet warehouse
replacing the SQLite file."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class PipelineConfig:
    warehouse_dir: str  # parquet tables root (≈ database/forex_data.db)
    processed_dir: str  # intermediate CSV outputs (≈ data/processed)
    raw_csv_path: str | None = None  # Kaggle history CSV (S1 input)
    base_currency: str = "EUR"
    months: int = 1  # CSV date window (etl/csv_loader.py:271)
    fetch_json: Callable[[], str] | None = None  # S4 REST edge
    fetch_html: Callable[[], str] | None = None  # S5 scrape edge
    # run_etl runs the three sources concurrently: alert may be called
    # from three driver threads at once, and sync_transport by the three
    # sources' sync jobs at once. Both must tolerate concurrent calls.
    sync_transport: Callable[[list[dict]], None] | None = None  # K7 edge
    sync_lookback_minutes: int = 20  # services/supabase.py:57-61
    alert: Callable[[str, str], bool] | None = None  # M5 edge
    extras: dict = field(default_factory=dict)

    def table(self, name: str) -> str:
        return str(Path(self.warehouse_dir) / name)


API_TABLE = "forex_rates_api"
HISTORY_TABLE = "forex_rates_history"
SCRAPED_TABLE = "forex_rates_scraped"
