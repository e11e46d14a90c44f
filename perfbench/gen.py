"""Seeded input generators for the benchmark's three workloads.

Every input is generated here from the ``--seed`` the benchmark gets;
the program under test only ever sees the files written below.

- ``make_forex``: a Kaggle-shaped history CSV with planted dirty rows,
  plus one Frankfurter-shaped JSON payload and one x-rates-shaped HTML
  page per day. Dates are relative to the run's date because the CSV
  pipeline windows on ``current_date``. The manifest it returns holds
  the expected inserted/skipped counts per phase and pipeline and the
  expected hash of each table, worked out here in plain Python.
- ``make_corpus``: a fixed base corpus, replicated 10x with
  ``tools/make_scale_probe.py``'s documents rule, rows shuffled by the
  seed. The curation result must not depend on row order, so its
  expected stage counts are the same for every seed (``expected.json``).
- ``make_query_tables``: a fixed TPC-H-like star schema plus events,
  documents and embeddings shaped like the repository's test data, rows
  shuffled by the seed. Query results must not depend on row order, so
  the golden hashes in ``expected.json`` hold for every seed.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import json
from pathlib import Path
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per profile. "full" is what the benchmark measures; "tiny" keeps
# the benchmark's own tests quick.
PROFILES = {
    "full": {
        "forex_currencies": 150,
        "forex_days": 1825,
        "forex_daily_runs": 1,
        "forex_api_currencies": 30,
        "forex_scrape_rows": 50,
        "corpus_base_docs": 600,
        "query_scale": 1.0,
    },
    # The forex warm-up's backfill: enough rows that the JVM compiles the
    # per-row CSV and Parquet code before the timed backfill.
    "warm": {
        "forex_currencies": 30,
        "forex_days": 365,
        "forex_daily_runs": 1,
        "forex_api_currencies": 5,
        "forex_scrape_rows": 8,
    },
    "tiny": {
        "forex_currencies": 6,
        "forex_days": 60,
        "forex_daily_runs": 1,
        "forex_api_currencies": 5,
        "forex_scrape_rows": 8,
        "corpus_base_docs": 120,
        "query_scale": 0.1,
    },
}

# Base data that must not depend on the run seed uses this fixed seed;
# the run seed only reorders rows.
BASE_SEED = 20240101
CORPUS_REPLICAS = 10

# (ISO code, x-rates display name), the shape of both fixtures.
CURRENCIES = [
    ("USD", "US Dollar"), ("GBP", "British Pound"), ("JPY", "Japanese Yen"),
    ("CHF", "Swiss Franc"), ("CAD", "Canadian Dollar"),
    ("AUD", "Australian Dollar"), ("BGN", "Bulgarian Lev"),
    ("BRL", "Brazilian Real"), ("CNY", "Chinese Yuan Renminbi"),
    ("CZK", "Czech Koruna"), ("DKK", "Danish Krone"),
    ("HKD", "Hong Kong Dollar"), ("HUF", "Hungarian Forint"),
    ("IDR", "Indonesian Rupiah"), ("ILS", "Israeli New Shekel"),
    ("INR", "Indian Rupee"), ("ISK", "Icelandic Krona"),
    ("KRW", "South Korean Won"), ("MXN", "Mexican Peso"),
    ("MYR", "Malaysian Ringgit"), ("NOK", "Norwegian Krone"),
    ("NZD", "New Zealand Dollar"), ("PHP", "Philippine Peso"),
    ("PLN", "Polish Zloty"), ("RON", "Romanian New Leu"),
    ("SEK", "Swedish Krona"), ("SGD", "Singapore Dollar"),
    ("THB", "Thai Baht"), ("TRY", "Turkish Lira"),
    ("ZAR", "South African Rand"), ("AED", "Emirati Dirham"),
    ("ARS", "Argentine Peso"), ("BHD", "Bahraini Dinar"),
    ("BWP", "Botswana Pula"), ("CLP", "Chilean Peso"),
    ("COP", "Colombian Peso"), ("IRR", "Iranian Rial"),
    ("KWD", "Kuwaiti Dinar"), ("KZT", "Kazakhstani Tenge"),
    ("LKR", "Sri Lankan Rupee"), ("LYD", "Libyan Dinar"),
    ("MUR", "Mauritian Rupee"), ("NPR", "Nepalese Rupee"),
    ("OMR", "Omani Rial"), ("PKR", "Pakistani Rupee"),
    ("QAR", "Qatari Riyal"), ("SAR", "Saudi Arabian Riyal"),
    ("TTD", "Trinidadian Dollar"), ("TWD", "Taiwan New Dollar"),
    ("VEF", "Venezuelan Bolivar"),
]
# Kaggle's history has about 150 currencies; the rest are made-up codes.
CURRENCIES += [
    (f"X{a}{b}", f"Currency X{a}{b}")
    for a in "ABCDEFGHIJ" for b in "ABCDEFGHIJ"
]

WORDS = [
    "merge", "window", "customer", "spark", "part", "group", "stream",
    "filter", "the", "sort", "scan", "vector", "join", "query", "big",
    "hash", "column", "data", "agg", "table", "line", "small", "slow",
    "key", "fast", "order", "row", "value", "a", "batch",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.15, 0.15, 0.14, 0.12]


def add_months(d: dt.date, months: int) -> dt.date:
    """Spark's ``add_months``: same day of month, clamped to the month's
    last day."""
    m = d.month - 1 + months
    y, m = d.year + m // 12, m % 12 + 1
    return dt.date(y, m, min(d.day, calendar.monthrange(y, m)[1]))


def rate_row(key: str, ts: dt.datetime, rate: float) -> str:
    """Canonical form of one keyed rate row: key, UTC timestamp and the
    rate in millionths (every generated rate has at most 6 decimals).
    ``workloads.table_digest`` builds the same string in Spark SQL."""
    return f"{key}|{ts:%Y-%m-%dT%H:%M:%S}|{round(rate * 1e6)}"


def rows_digest(lines) -> dict:
    """Order-insensitive digest of canonical row strings: the row count and
    the sum of the first 64 bits of each row's SHA-256."""
    lines = list(lines)
    total = sum(int(hashlib.sha256(x.encode()).hexdigest()[:16], 16) for x in lines)
    return {"rows": len(lines), "sha256_sum": str(total)}


# ---------------------------------------------------------------------------
# forex_etl


def forex_plan(as_of: dt.date, prof: dict) -> dict:
    """Dates of every phase, relative to the run's date ``as_of``."""
    n_daily = prof["forex_daily_runs"]
    backfill_end = as_of - dt.timedelta(days=n_daily)
    start = backfill_end - dt.timedelta(days=prof["forex_days"] - 1)
    # A window that covers the whole history: the backfill loads it all.
    months = (as_of.year - start.year) * 12 + as_of.month - start.month + 1
    return {
        "as_of": as_of,
        "start": start,
        "backfill_end": backfill_end,
        "backfill_months": months,
        "daily_dates": [backfill_end + dt.timedelta(days=i + 1) for i in range(n_daily)],
    }


def _history_clean(rng, codes: list[str], names: dict, days: list[dt.date]) -> list[tuple]:
    """Clean rows (currency, base, name, rate, date) as a random walk per
    currency, rates rounded to 6 decimals as Kaggle's file has them."""
    start = rng.uniform(0.5, 150.0, size=len(codes))
    steps = rng.normal(0.0, 0.004, size=(len(days), len(codes)))
    levels = np.round(start * np.exp(np.cumsum(steps, axis=0)), 6).tolist()
    return [
        (c, "EUR", names[c], levels[i][j], d)
        for i, d in enumerate(days)
        for j, c in enumerate(codes)
    ]


def _csv_line(c, base, name, rate, date) -> str:
    r = "" if rate is None else f"{rate:.6f}"
    d = date.isoformat() if isinstance(date, dt.date) else date
    return f"{c},{base},{name},{r},{d}\n"


def _dirty_rows(rng, clean: list[tuple], n: int, plan: dict, months: int) -> list[str]:
    """Planted rows the CSV transform must drop, ``n`` of each kind."""
    out = []
    picks = rng.choice(len(clean), size=5 * n, replace=False)
    too_old = add_months(plan["as_of"], -months) - dt.timedelta(days=40)
    for k, i in enumerate(picks):
        c, base, name, rate, d = clean[int(i)]
        kind = k % 5
        if kind == 0:  # exact duplicate of a clean row
            out.append(_csv_line(c, base, name, rate, d))
        elif kind == 1:  # null rate
            out.append(_csv_line(c, base, name, None, d))
        elif kind == 2:  # negative rate
            out.append(_csv_line(c, base, name, -rate, d))
        elif kind == 3:  # unparseable date
            bad = ["not-a-date", "2021-13-45", ""][k % 3]
            out.append(_csv_line(c, base, name, rate, bad))
        else:  # out of the window: before it, or in the future
            when = too_old if k % 2 else plan["as_of"] + dt.timedelta(days=7 + k % 20)
            out.append(_csv_line(c, base, name, rate, when))
    return out


def frankfurter_payload(rng, codes: list[str], day: dt.date) -> dict:
    return {
        "amount": 1.0,
        "base": "EUR",
        "date": day.isoformat(),
        "rates": {c: round(float(rng.uniform(0.5, 400.0)), 4) for c in codes},
    }


def xrates_page(rng, names: list[str], day: dt.date) -> tuple[str, list[tuple[str, float]]]:
    """An x-rates-shaped page for ``day`` plus the rows it should yield.
    Like the fixture, it carries one short row and one unparseable rate."""
    rows = [(n, round(float(rng.uniform(0.5, 400.0)), 6)) for n in names]
    body = "".join(
        f"      <tr><td>{n}</td><td>{r:.6f}</td><td>{1 / r:.6f}</td></tr>\n"
        for n, r in rows
    )
    html = (
        "<!DOCTYPE html>\n<html>\n<head><title>Exchange Rate Table (Euro)</title></head>\n"
        "<body>\n  <div class=\"pageHeader\">\n"
        f"    <span class=\"ratesTimestamp\">{day:%b %d, %Y} 14:30 UTC</span>\n"
        "  </div>\n  <table class=\"tablesorter ratesTable\">\n    <thead>\n"
        "      <tr><th>Currency</th><th>1.00 EUR</th><th>inv. 1.00 EUR</th></tr>\n"
        "    </thead>\n    <tbody>\n"
        f"{body}"
        "      <tr><td>broken row</td></tr>\n"
        "      <tr><td>Unparseable Rate</td><td>n/a</td><td>n/a</td></tr>\n"
        "    </tbody>\n  </table>\n</body>\n</html>\n"
    )
    return html, rows


def _api_ts(day: dt.date) -> dt.datetime:
    """16:00 CET on the quote date, in UTC (what ``rates_from_json`` does)."""
    local = dt.datetime(day.year, day.month, day.day, 16, tzinfo=ZoneInfo("CET"))
    return local.astimezone(dt.timezone.utc).replace(tzinfo=None)


def make_forex(out: Path, seed: int, as_of: dt.date, profile: str = "full") -> dict:
    """Write the forex inputs under ``out`` and return the manifest.

    Layout: ``history_base.csv`` (the backfill's history file),
    ``history_day{i}.csv`` (the rows day ``i`` appends),
    ``api_{date}.json`` and ``xrates_{date}.html`` per day.
    """
    prof = PROFILES[profile]
    plan = forex_plan(as_of, prof)
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)

    hist_codes = [c for c, _ in CURRENCIES[: prof["forex_currencies"]]]
    api_codes = [c for c, _ in CURRENCIES[: prof["forex_api_currencies"]]]
    scrape_names = [n for _, n in CURRENCIES[: prof["forex_scrape_rows"]]]
    names = dict(CURRENCIES)

    base_days = [
        plan["start"] + dt.timedelta(days=i) for i in range(prof["forex_days"])
    ]
    clean = _history_clean(rng, hist_codes, names, base_days)
    dirty = _dirty_rows(rng, clean, max(1, len(clean) // 400), plan, plan["backfill_months"])
    lines = [_csv_line(*r) for r in clean]
    # Scatter the dirty rows through the file.
    at = rng.integers(0, len(lines) + 1, size=len(dirty))
    order = np.argsort(at, kind="stable")
    parts, prev = ["currency,base_currency,currency_name,exchange_rate,date\n"], 0
    for k in order.tolist():
        parts += lines[prev : at[k]]
        parts.append(dirty[k])
        prev = int(at[k])
    parts += lines[prev:]
    (out / "history_base.csv").write_text("".join(parts))

    # Each day appends one clean row per currency, one exact duplicate
    # and one null-rate row.
    all_clean = list(clean)
    for i, day in enumerate(plan["daily_dates"], start=1):
        day_rows = _history_clean(rng, hist_codes, names, [day])
        all_clean += day_rows
        extra = [_csv_line(*day_rows[0]), _csv_line(*day_rows[-1][:3], None, day)]
        (out / f"history_day{i}.csv").write_text(
            "".join(_csv_line(*r) for r in day_rows) + "".join(extra)
        )

    api_rows, scrape_rows = [], []
    for day in [plan["backfill_end"], *plan["daily_dates"]]:
        payload = frankfurter_payload(rng, api_codes, day)
        (out / f"api_{day.isoformat()}.json").write_text(json.dumps(payload, indent=2))
        api_rows += [rate_row(c, _api_ts(day), r) for c, r in payload["rates"].items()]
        html, rows = xrates_page(rng, scrape_names, day)
        (out / f"xrates_{day.isoformat()}.html").write_text(html)
        ts = dt.datetime(day.year, day.month, day.day, 14, 30)
        scrape_rows += [rate_row(n, ts, r) for n, r in rows]

    manifest = {
        "as_of": as_of.isoformat(),
        "backfill_months": plan["backfill_months"],
        "backfill_date": plan["backfill_end"].isoformat(),
        "daily_dates": [d.isoformat() for d in plan["daily_dates"]],
        "history_rows_planted": {"clean": len(clean), "dirty": len(dirty)},
        "expected": forex_expected(all_clean, plan, prof),
        "table_hash": {
            "forex_rates_history": rows_digest(
                rate_row(c, dt.datetime(d.year, d.month, d.day, 10), r)
                for c, _, _, r, d in all_clean
            ),
            "forex_rates_api": rows_digest(api_rows),
            "forex_rates_scraped": rows_digest(scrape_rows),
        },
    }
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def history_window_count(clean_dates: list[dt.date], today: dt.date, months: int) -> int:
    lo = add_months(today, -months)
    return sum(lo <= d <= today for d in clean_dates)


def forex_expected(all_clean: list[tuple], plan: dict, prof: dict) -> dict:
    """Expected WriteStats per phase and pipeline.

    Phase names: ``backfill``, ``daily1..N`` and ``replay``. The CSV
    counts depend on the date the run sees as today, so each phase
    records them keyed by that date; a run that straddles midnight UTC
    may match either neighbour.
    """
    n_api, n_scrape = prof["forex_api_currencies"], prof["forex_scrape_rows"]
    n_cur = prof["forex_currencies"]
    as_of = plan["as_of"]
    exp = {}

    dates = sorted({r[4] for r in all_clean})
    per_date = n_cur  # every clean date carries one row per currency

    def csv_counts(upto: dt.date, months: int, new: int) -> dict:
        upto_dates = [d for d in dates if d <= upto]
        out = {}
        for today in (as_of, as_of + dt.timedelta(days=1)):
            total = per_date * history_window_count(upto_dates, today, months)
            out[today.isoformat()] = {"inserted": new, "skipped": total - new}
        return out

    exp["backfill"] = {
        "api": {"inserted": n_api, "skipped": 0},
        "scrape": {"inserted": n_scrape, "skipped": 0},
        "csv_by_today": csv_counts(
            plan["backfill_end"], plan["backfill_months"],
            n_cur * prof["forex_days"],
        ),
    }
    for i, day in enumerate(plan["daily_dates"], start=1):
        exp[f"daily{i}"] = {
            "api": {"inserted": n_api, "skipped": 0},
            "scrape": {"inserted": n_scrape, "skipped": 0},
            "csv_by_today": csv_counts(day, 1, n_cur),
        }
    exp["replay"] = {
        "api": {"inserted": 0, "skipped": n_api},
        "scrape": {"inserted": 0, "skipped": n_scrape},
        "csv_by_today": csv_counts(plan["daily_dates"][-1], 1, 0),
    }
    return exp


# ---------------------------------------------------------------------------
# corpus_curate


def _base_documents(n: int) -> pd.DataFrame:
    """A fixed corpus with the defects curation removes: short and
    repetitive docs (quality screen), gibberish (LM screen), exact and
    near duplicates, and a boilerplate span shared by many docs."""
    rng = np.random.default_rng(BASE_SEED)
    boiler = " ".join(rng.choice(WORDS, size=40))
    texts = []
    for i in range(n):
        kind = i % 20
        if kind == 0 and texts:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        if kind in (1, 2) and texts:  # near duplicate: a few edits + tag
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
            texts.append(" ".join(toks + ["dup"]))
            continue
        if kind == 3:  # too short for the screen
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(3, 9)))))
            continue
        if kind == 4:  # repetitive: low type/token ratio
            texts.append(" ".join([str(rng.choice(WORDS))] * int(rng.integers(30, 60))))
            continue
        if kind == 5:  # gibberish: tokens the corpus never uses
            toks = [
                "".join(rng.choice(list("qxzjvkwy"), size=int(rng.integers(4, 9))))
                for _ in range(int(rng.integers(20, 60)))
            ]
            texts.append(" ".join(toks))
            continue
        toks = list(rng.choice(WORDS, size=int(rng.integers(12, 100))))
        if kind in (6, 7):  # shared boilerplate span
            cut = int(rng.integers(0, len(toks)))
            toks = toks[:cut] + boiler.split(" ") + toks[cut:]
        texts.append(" ".join(str(t) for t in toks))
    langs = rng.choice(LANGS, size=n, p=LANG_WEIGHTS)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
        }
    )


def replicate_documents(base: pd.DataFrame, replicas: int = CORPUS_REPLICAS) -> pd.DataFrame:
    """``tools/make_scale_probe.py``'s level-1 documents rule: replica r
    suffixes every token with r and offsets doc_id by r*10^8, so each
    replica keeps its internal similarity structure and shares no
    shingles with the others."""
    parts = []
    for r in range(replicas):
        text = base["text"] if r == 0 else base["text"].map(
            lambda t, r=r: " ".join(f"{w}{r}" for w in t.split(" "))
        )
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": base["doc_id"] + r * 100_000_000,
                    "text": text,
                    "lang": base["lang"],
                    "source": base["source"],
                }
            )
        )
    docs = pd.concat(parts, ignore_index=True)
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs


def _write(df: pd.DataFrame, path: Path, seed: int | None) -> None:
    """Parquet with row order shuffled by ``seed`` and microsecond
    timestamps (the session reads nanosecond ones as bigint)."""
    if seed is not None:
        df = df.iloc[np.random.default_rng(seed).permutation(len(df))]
    table = pa.Table.from_pandas(df.reset_index(drop=True), preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def make_corpus(out: Path, seed: int, profile: str = "full") -> int:
    out.mkdir(parents=True, exist_ok=True)
    docs = replicate_documents(_base_documents(PROFILES[profile]["corpus_base_docs"]))
    _write(docs, out / "documents.parquet", seed)
    return len(docs)


# ---------------------------------------------------------------------------
# query_mix


def _query_frames(scale: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(BASE_SEED + 1)
    n_cust, n_ord, n_li = int(1500 * scale), int(15000 * scale), int(60000 * scale)
    n_part, n_supp = int(2000 * scale), max(10, int(100 * scale))
    n_events, n_users, n_vec = int(10000 * scale), max(15, int(150 * scale)), 500
    t = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
    noun = ["widget", "plate", "ring", "rod", "bolt", "gear", "valve", "pipe"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    day0 = np.datetime64("1995-01-01")
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": (day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]"))
            .astype("datetime64[us]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": (day0 + rng.integers(1, 2500, n_li).astype("timedelta64[D]"))
            .astype("datetime64[us]"),
        }
    )
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.choice(30 * 86400 * 10**6, n_events, replace=False))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts0 + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels,
        }
    )
    docs = _base_documents(500)
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    t["documents"] = docs
    return t


def make_query_tables(out: Path, seed: int, profile: str = "full") -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name, df in _query_frames(PROFILES[profile]["query_scale"]).items():
        _write(df, out / f"{name}.parquet", seed)
