"""Golden + idempotence tests for the three reference pipelines and
the idempotent keyed writer (SURVEY.md §5.2-5.3): run twice → second
run inserts nothing and the table is unchanged."""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from finance_pipeline_spark.pipelines import run_etl
from finance_pipeline_spark.pipelines.config import (
    API_TABLE,
    HISTORY_TABLE,
    SCRAPED_TABLE,
    PipelineConfig,
)
from finance_pipeline_spark.sinks.keyed_writer import (
    idempotent_append,
    read_table,
    table_exists,
    drop_table,
)
from finance_pipeline_spark.sinks.rest_sink import SpoolTransport
from finance_pipeline_spark.sources.rest_source import file_fetcher

FIXTURES = Path(__file__).parent / "fixtures"


def _conf(tmp_path, **kw) -> PipelineConfig:
    return PipelineConfig(
        warehouse_dir=str(tmp_path / "warehouse"),
        processed_dir=str(tmp_path / "processed"),
        **kw,
    )


def _write_history_csv(tmp_path) -> str:
    """Kaggle-shaped history CSV with dates inside the 1-month window
    (the window filter uses current_date), plus dirty rows the
    transform must drop: an exact duplicate, a null rate, a negative
    rate, and an out-of-window date."""
    today = dt.date.today()
    lines = ["currency,base_currency,currency_name,exchange_rate,date"]
    for off in range(5):
        d = (today - dt.timedelta(days=off + 1)).isoformat()
        lines.append(f"USD,EUR,US Dollar,1.12,{d}")
        lines.append(f"GBP,EUR,British Pound,0.84,{d}")
    lines.append(lines[1])  # exact duplicate (P6)
    lines.append(f"XXX,EUR,Broken,,{(today - dt.timedelta(days=2)).isoformat()}")  # P5
    lines.append(f"NEG,EUR,Negative,-1.0,{(today - dt.timedelta(days=2)).isoformat()}")  # P4
    lines.append("OLD,EUR,Ancient,1.0,1999-01-01")  # P3 out of window
    p = tmp_path / "daily_forex_rates.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_api_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    conf = _conf(tmp_path, fetch_json=file_fetcher(FIXTURES / "frankfurter.json"))
    first = run_api_process_stats = __import__(
        "finance_pipeline_spark.pipelines.api_pipeline", fromlist=["run_api_process"]
    ).run_api_process(spark, conf)
    n_rates = len(json.loads((FIXTURES / "frankfurter.json").read_text())["rates"])
    assert first.inserted == n_rates and first.skipped == 0
    second = __import__(
        "finance_pipeline_spark.pipelines.api_pipeline", fromlist=["run_api_process"]
    ).run_api_process(spark, conf)
    assert second.inserted == 0 and second.skipped == n_rates
    table = read_table(spark, conf.table(API_TABLE))
    assert table.count() == n_rates


def test_api_timestamptz_is_16h_cet_in_utc(spark, tmp_path):
    conf = _conf(tmp_path, fetch_json=file_fetcher(FIXTURES / "frankfurter.json"))
    from finance_pipeline_spark.pipelines.api_pipeline import run_api_process

    run_api_process(spark, conf)
    row = (
        read_table(spark, conf.table(API_TABLE))
        .filter("currency = 'USD'")
        .select("date", "timestamptz")
        .first()
    )
    # 2025-05-08 is CEST (UTC+2): 16:00 CET-zone wall time → 14:00 UTC.
    assert row.date.isoformat() == "2025-05-08"
    assert row.timestamptz == dt.datetime(2025, 5, 8, 14, 0, 0)


def test_csv_pipeline_cleans_windows_and_is_idempotent(spark, tmp_path):
    from finance_pipeline_spark.pipelines.csv_pipeline import run_csv_loading_process

    conf = _conf(tmp_path, raw_csv_path=_write_history_csv(tmp_path), months=1)
    first = run_csv_loading_process(spark, conf)
    # 10 clean in-window rows (5 days × 2 currencies); dupes/null/neg/old dropped.
    assert first.inserted == 10
    table = read_table(spark, conf.table(HISTORY_TABLE))
    assert table.count() == 10
    assert table.filter("exchange_rate <= 0").count() == 0
    assert table.filter("currency = 'OLD'").count() == 0
    # timestamptz = date 10:00 UTC (D2)
    hours = {r[0] for r in table.selectExpr("hour(timestamptz)").collect()}
    assert hours == {10}
    second = run_csv_loading_process(spark, conf)
    assert second.inserted == 0 and second.skipped == 10


def test_scrape_pipeline_parses_guards_and_merges(spark, tmp_path):
    from finance_pipeline_spark.pipelines.scrape_pipeline import run_web_scrapping_process

    conf = _conf(tmp_path, fetch_html=lambda: (FIXTURES / "xrates.html").read_text())
    first = run_web_scrapping_process(spark, conf)
    # 6 parseable rows; the <2-td row and the float-cast failure are skipped.
    assert first.inserted == 6
    table = read_table(spark, conf.table(SCRAPED_TABLE))
    got = {r.currency_name: r.exchange_rate for r in table.collect()}
    assert got["US Dollar"] == pytest.approx(1.1296)
    assert "broken row" not in got and "Unparseable Rate" not in got
    assert {r.timestamptz for r in table.collect()} == {dt.datetime(2025, 5, 8, 14, 30)}
    # Re-scrape: zero inserts is still success (reference parity) and
    # the per-day merge CSV stays deduplicated.
    second = run_web_scrapping_process(spark, conf)
    assert second is not None and second.inserted == 0
    merged = spark.read.option("header", True).csv(
        str(tmp_path / "processed" / "forex_scraped_2025-05-08.csv")
    )
    assert merged.count() == 6


def test_scrape_aborts_on_missing_timestamp_and_alerts_on_no_table(spark, tmp_path):
    from finance_pipeline_spark.pipelines.scrape_pipeline import run_web_scrapping_process

    alerts = []
    conf = _conf(
        tmp_path,
        fetch_html=lambda: "<html><body>no timestamp here</body></html>",
        alert=lambda msg, subj: alerts.append((subj, msg)) or True,
    )
    assert run_web_scrapping_process(spark, conf) is None
    assert not table_exists(conf.table(SCRAPED_TABLE))

    html = '<span class="ratesTimestamp">May 08, 2025 14:30 UTC</span><p>no table</p>'
    conf2 = _conf(
        tmp_path / "b",
        fetch_html=lambda: html,
        alert=lambda msg, subj: alerts.append((subj, msg)) or True,
    )
    assert run_web_scrapping_process(spark, conf2) is None
    assert any("Scraping Error" in subj for subj, _ in alerts)


def _assert_jvm_leaf(df) -> None:
    plan = df._jdf.queryExecution().toString()
    assert "LocalRelation" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize(
    "payload",
    [
        {"date": 20240101, "rates": {"USD": 1.1}},
        {"date": None, "rates": {"USD": 1.1}},
        {"date": "20240101", "rates": {"USD": 1.1}},
        {"date": "2024-02-30", "rates": {"USD": 1.1}},
        {"date": "2024-01-01", "rates": [["USD", 1.1]]},
        {"date": "2024-01-01", "rates": None},
        [{"date": "2024-01-01", "rates": {"USD": 1.1}}],
    ],
)
def test_rest_envelope_rejected_and_replay_loads_no_null_keys(spark, tmp_path, payload):
    """A payload whose ``date`` is not an ISO YYYY-MM-DD string or whose
    ``rates`` is not an object is refused on the driver: it used to load
    rows with a null date/timestamptz key, which the anti-join never
    matches, so every replay inserted them again."""
    from finance_pipeline_spark.pipelines.api_pipeline import run_api_process
    from finance_pipeline_spark.sources.rest_source import fetch_rates, rates_from_json

    body = json.dumps(payload)
    with pytest.raises(ValueError):
        rates_from_json(spark, body)
    assert fetch_rates(spark, lambda: body) is None
    conf = _conf(tmp_path, fetch_json=lambda: body)
    for _ in range(2):  # first load, then the replay
        stats = run_api_process(spark, conf)
        assert stats is None or stats.inserted == 0
    table = read_table(spark, conf.table(API_TABLE))
    if table is not None:
        assert table.filter("date IS NULL OR timestamptz IS NULL").count() == 0


def _old_rest_frame(spark, payload: dict):
    """The REST frame as it was built before: a Python-list leaf under
    the same flatten and CET→UTC chain."""
    row = spark.createDataFrame(
        [(payload["date"], json.dumps(payload["rates"]))], "date_str string, rates string"
    )
    return row.select(
        "date_str",
        F.explode(F.from_json("rates", "map<string,double>")).alias("currency", "exchange_rate"),
    ).select(
        "currency",
        F.lit("EUR").alias("base_currency"),
        "exchange_rate",
        F.to_date("date_str").alias("date"),
        F.to_utc_timestamp(F.concat(F.col("date_str"), F.lit(" 16:00:00")), "CET").alias(
            "timestamptz"
        ),
    )


def test_source_frames_are_jvm_local_relations(spark):
    """The REST and scrape frames are Arrow-built LocalRelations: no
    Python-RDD leaf, so no action on them starts a Python worker. Their
    rows equal the old Python-list construction, including 16:00 CET in
    UTC on each side of both 2025 DST switches (30 Mar, 26 Oct)."""
    from finance_pipeline_spark.schemas import SCRAPED_ROW
    from finance_pipeline_spark.sources.rest_source import fetch_rates
    from finance_pipeline_spark.sources.scrape_source import parse_html, parse_page

    fixture = json.loads((FIXTURES / "frankfurter.json").read_text())
    utc_hour = {"2025-03-28": 15, "2025-03-31": 14, "2025-10-24": 14, "2025-10-27": 15}
    for day, hour in [(fixture["date"], 14), *utc_hour.items()]:
        payload = {**fixture, "date": day}
        df = fetch_rates(spark, lambda p=payload: json.dumps(p))
        _assert_jvm_leaf(df)
        rows = sorted(map(tuple, df.collect()))
        assert rows == sorted(map(tuple, _old_rest_frame(spark, payload).collect()))
        assert len(rows) == len(fixture["rates"])
        assert {r[4] for r in rows} == {dt.datetime.fromisoformat(f"{day} {hour:02d}:00")}

    html = (FIXTURES / "xrates.html").read_text()
    df = parse_page(spark, html)
    _assert_jvm_leaf(df)
    page = parse_html(html)
    ts = page.timestamp.replace(tzinfo=None)
    old = spark.createDataFrame(
        [(name, "EUR", rate, ts.date(), ts) for name, rate in page.rows], SCRAPED_ROW
    )
    assert df.schema == SCRAPED_ROW
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, old.collect()))
    assert {r.timestamptz for r in df.collect()} == {dt.datetime(2025, 5, 8, 14, 30)}

    no_table = '<span class="ratesTimestamp">May 08, 2025 14:30 UTC</span><p>no table</p>'
    empty = parse_page(spark, no_table)
    _assert_jvm_leaf(empty)
    assert empty.schema == SCRAPED_ROW and empty.collect() == []


def test_csv_pipeline_computes_one_window_per_run(spark, tmp_path, monkeypatch):
    """The debug CSV and the keyed append read one computed window: the
    frame both writers get no longer scans the history CSV, the debug
    file and the inserted rows hold the same (currency, timestamptz)
    set, and a replay inserts nothing."""
    from finance_pipeline_spark.pipelines import csv_pipeline
    from finance_pipeline_spark.schemas import HISTORY_ROW
    from finance_pipeline_spark.sources.csv_source import read_csv

    seen = []
    for name in ("write_overwrite", "idempotent_append"):
        original = getattr(csv_pipeline, name)

        def spy(*args, _original=original):
            seen.append(next(a for a in args if hasattr(a, "_jdf")))
            return _original(*args)

        monkeypatch.setattr(csv_pipeline, name, spy)

    conf = _conf(tmp_path, raw_csv_path=_write_history_csv(tmp_path), months=1)
    first = csv_pipeline.run_csv_loading_process(spark, conf)
    assert first.inserted == 10
    debug_df, loaded_df = seen
    assert debug_df is loaded_df
    assert "csv" not in debug_df._jdf.queryExecution().optimizedPlan().toString()

    def keys(df):
        return {(r.currency, r.timestamptz) for r in df.select("currency", "timestamptz").collect()}

    debug = read_csv(spark, str(tmp_path / "processed" / "forex_rates_1m.csv"), HISTORY_ROW)
    inserted = keys(read_table(spark, conf.table(HISTORY_TABLE)))
    assert keys(debug) == inserted and len(inserted) == 10
    replay = csv_pipeline.run_csv_loading_process(spark, conf)
    assert replay.inserted == 0 and replay.skipped == 10


def _etl_conf(tmp_path) -> PipelineConfig:
    """All three sources on the offline fixtures."""
    tmp_path.mkdir(parents=True, exist_ok=True)
    return _conf(
        tmp_path,
        raw_csv_path=_write_history_csv(tmp_path),
        fetch_json=file_fetcher(FIXTURES / "frankfurter.json"),
        fetch_html=lambda: (FIXTURES / "xrates.html").read_text(),
    )


def test_orchestrator_runs_all_three_independently(spark, tmp_path):
    result = run_etl(spark, _etl_conf(tmp_path))
    assert result["api"].inserted == 13
    assert result["csv"].inserted == 10
    assert result["scrape"].inserted == 6
    # One failing source must not take down the others.
    (tmp_path / "broken").mkdir()
    conf_broken = _conf(
        tmp_path / "broken",
        raw_csv_path=_write_history_csv(tmp_path / "broken"),
        fetch_json=lambda: (_ for _ in ()).throw(IOError("net down")),
        fetch_html=lambda: (FIXTURES / "xrates.html").read_text(),
    )
    result2 = run_etl(spark, conf_broken)
    assert result2["api"] is None
    assert result2["csv"].inserted == 10
    assert result2["scrape"].inserted == 6


def _processed_files(conf: PipelineConfig) -> dict:
    """Each processed CSV dataset → the sorted lines of its part files."""
    return {
        d.name: sorted(
            line for part in d.glob("part-*.csv") for line in part.read_text().splitlines()
        )
        for d in Path(conf.processed_dir).iterdir()
    }


def test_concurrent_etl_matches_sequential_run(spark, tmp_path):
    """run_etl's concurrent sources load the same tables and processed
    CSVs as the three pipelines run one after another, and the result
    keys come back in api, csv, scrape order."""
    from finance_pipeline_spark.pipelines import (
        run_api_process,
        run_csv_loading_process,
        run_web_scrapping_process,
    )

    conc, seq = _etl_conf(tmp_path / "conc"), _etl_conf(tmp_path / "seq")
    result = run_etl(spark, conc)
    assert list(result) == ["api", "csv", "scrape"]
    assert result == {
        "api": run_api_process(spark, seq),
        "csv": run_csv_loading_process(spark, seq),
        "scrape": run_web_scrapping_process(spark, seq),
    }
    for table in (API_TABLE, HISTORY_TABLE, SCRAPED_TABLE):
        conc_rows, seq_rows = (
            sorted(read_table(spark, c.table(table)).drop("created_at").collect(), key=str)
            for c in (conc, seq)
        )
        assert conc_rows and conc_rows == seq_rows, table
    assert len(_processed_files(conc)) == 3
    assert _processed_files(conc) == _processed_files(seq)


def test_etl_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Every Spark job of the three source threads runs under the job
    group the caller set, which run_etl leaves in place."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("etl-caller", "run_etl under a caller's job group")
    try:
        result = run_etl(spark, _etl_conf(tmp_path))
        assert sc.getLocalProperty("spark.jobGroup.id") == "etl-caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(result.values())
    assert len(tracker.getJobIdsForGroup("etl-caller")) >= 10
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def test_raising_source_lets_the_others_finish(spark, tmp_path, monkeypatch, caplog):
    """A pipeline that raises does not stop the other two: run_etl
    re-raises only once they are done, and when several raise, the
    first in api, csv, scrape order wins whatever order they failed in;
    the others are logged."""
    import threading
    import time

    import finance_pipeline_spark.pipelines as pipelines

    def api_down(spark, conf):
        raise RuntimeError("api down")

    monkeypatch.setattr(pipelines, "run_api_process", api_down)
    conf = _etl_conf(tmp_path)
    with pytest.raises(RuntimeError, match="api down"):
        run_etl(spark, conf)
    assert not [t for t in threading.enumerate() if t.name.startswith("etl-")]
    assert read_table(spark, conf.table(API_TABLE)) is None
    assert read_table(spark, conf.table(HISTORY_TABLE)).count() == 10
    assert read_table(spark, conf.table(SCRAPED_TABLE)).count() == 6

    def api_late(spark, conf):
        time.sleep(0.5)
        raise RuntimeError("api late")

    def scrape_early(spark, conf):
        raise ValueError("scrape early")

    monkeypatch.setattr(pipelines, "run_api_process", api_late)
    monkeypatch.setattr(pipelines, "run_csv_loading_process", lambda spark, conf: None)
    monkeypatch.setattr(pipelines, "run_web_scrapping_process", scrape_early)
    with pytest.raises(RuntimeError, match="api late"):
        run_etl(spark, conf)
    assert "ETL:scrape pipeline raised as well" in caplog.text
    assert "scrape early" in caplog.text


def test_ship_package_ships_once_from_concurrent_threads(spark, monkeypatch):
    """Three threads of one process calling ship_package at once (the
    source pipelines under run_etl) build the package zip once, leave
    no staging file behind and publish a valid zip."""
    import os
    import sys
    import threading
    import zipfile

    from finance_pipeline_spark import registry

    builds = []
    real_zip = zipfile.ZipFile

    class CountingZip(real_zip):
        def __init__(self, file, mode="r", *args, **kwargs):
            if mode == "w":
                builds.append(file)
            super().__init__(file, mode, *args, **kwargs)

    monkeypatch.setattr(zipfile, "ZipFile", CountingZip)
    monkeypatch.setattr(registry, "_SHIPPED_APPS", set())
    barrier = threading.Barrier(3)
    errors = []

    def ship():
        barrier.wait()
        try:
            registry.ship_package(spark)
        except Exception as e:  # noqa: BLE001 — collected and asserted on
            errors.append(e)

    threads = [threading.Thread(target=ship) for _ in range(3)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(builds) == 1
    assert spark.sparkContext.applicationId in registry._SHIPPED_APPS
    cache = Path(registry.__file__).resolve().parent.parent / ".cache"
    assert not list(cache.glob(f".finance_pipeline_spark.{os.getpid()}.zip.tmp"))
    with real_zip(cache / "finance_pipeline_spark.zip") as z:
        assert z.testzip() is None
        assert "finance_pipeline_spark/registry.py" in z.namelist()


def _sql_executions(spark):
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _executions_after(spark, execution_id: int) -> list:
    """SQL executions (status store, newest first) with a larger id."""
    execs = _sql_executions(spark)
    out = []
    for i in range(execs.size() - 1, -1, -1):
        ex = execs.apply(i)
        if ex.executionId() <= execution_id:
            break
        out.append(ex)
    return out


def test_keyed_append_does_not_aggregate_the_table_keys(spark, tmp_path):
    """The anti-join reads the table's keys as they are: the executed
    write of an append against an existing table holds no aggregate (a
    dropDuplicates there would shuffle every key the table holds)."""
    path = str(tmp_path / "t")
    schema = "currency string, timestamptz timestamp, exchange_rate double"
    keys = ["currency", "timestamptz"]

    def batch(days):
        rows = [(c, dt.datetime(2025, 5, d, 10), 1.0 + d) for c in ("USD", "GBP") for d in days]
        return spark.createDataFrame(rows, schema)

    idempotent_append(spark, batch(range(1, 8)), path, keys)
    execs = _sql_executions(spark)
    before = execs.apply(execs.size() - 1).executionId()
    stats = idempotent_append(spark, batch([*range(5, 11), 10]), path, keys)
    assert (stats.inserted, stats.skipped) == (6, 8)
    writes = [
        ex.physicalPlanDescription()
        for ex in _executions_after(spark, before)
        if "InsertIntoHadoopFsRelationCommand" in ex.physicalPlanDescription()
    ]
    assert len(writes) == 1
    assert "LeftAnti" in writes[0]
    assert "Aggregate" not in writes[0], writes[0]


def test_keyed_writer_first_wins_property(spark, tmp_path):
    """Property: for random overlapping batches, the table always holds
    exactly one row per distinct key ever written, and replaying any
    batch is a no-op (accounting consistent throughout). The first
    batch is crafted: one key twice with conflicting values — the
    in-batch duplicate is skipped and counted, not inserted."""
    rng = random.Random(13)
    path = str(tmp_path / "t")
    seen_keys: set[tuple] = set()
    batches = [
        [
            ("USD", dt.datetime(2025, 5, 1, 10), 1.1),
            ("USD", dt.datetime(2025, 5, 1, 10), 2.2),
        ]
    ]
    for _ in range(5):
        batch = [
            (
                rng.choice(["USD", "GBP", "JPY", "CHF"]),
                dt.datetime(2025, 5, rng.randint(1, 4), 10, 0, 0),
                round(rng.uniform(0.5, 2.0), 4),
            )
            for _ in range(rng.randint(3, 8))
        ]
        batches.append(batch)
    for batch in batches:
        df = spark.createDataFrame(
            batch, "currency string, timestamptz timestamp, exchange_rate double"
        )
        stats = idempotent_append(spark, df, path, ["currency", "timestamptz"])
        new_keys = {(c, t) for c, t, _ in batch} - seen_keys
        assert stats.inserted == len(new_keys)
        assert stats.skipped == len(batch) - len(new_keys)
        seen_keys |= new_keys
        table_keys = [
            (r.currency, r.timestamptz)
            for r in read_table(spark, path).select("currency", "timestamptz").collect()
        ]
        assert len(table_keys) == len(seen_keys)  # one row per key
        assert set(table_keys) == seen_keys
    # Full replay of everything: no-op.
    all_rows = [r for b in batches for r in b]
    df = spark.createDataFrame(
        all_rows, "currency string, timestamptz timestamp, exchange_rate double"
    )
    stats = idempotent_append(spark, df, path, ["currency", "timestamptz"])
    assert stats.inserted == 0 and stats.skipped == len(all_rows)
    assert drop_table(path) and not table_exists(path)


def test_concurrent_writers_fail_loudly(spark, tmp_path):
    """The single-writer boundary of the parquet keyed table is now
    ENFORCED, not just documented: a second writer attempting a keyed
    append while the lock is held gets ConcurrentWriteError (the
    double-fired-cron case), instead of the silent double-insert the
    unlocked interleaving used to produce. A transactional format
    (Delta MERGE) remains the true multi-writer upgrade path."""
    import pytest

    from finance_pipeline_spark.sinks.keyed_writer import (
        ConcurrentWriteError,
        writer_lock,
    )

    path = str(tmp_path / "t")
    schema = "currency string, timestamptz timestamp, exchange_rate double"
    base = spark.createDataFrame([("EUR", dt.datetime(2025, 5, 1, 10), 1.0)], schema)
    idempotent_append(spark, base, path, ["currency", "timestamptz"])

    inc = spark.createDataFrame([("USD", dt.datetime(2025, 5, 2, 10), 1.5)], schema)
    # Writer 1 is mid-merge (holds the lock); writer 2 must fail loudly.
    with writer_lock(path, owner="writer-1"):
        with pytest.raises(ConcurrentWriteError, match="locked by another writer"):
            idempotent_append(spark, inc, path, ["currency", "timestamptz"])
    # Lock released → the same write now succeeds, exactly once.
    stats = idempotent_append(spark, inc, path, ["currency", "timestamptz"])
    assert stats.inserted == 1
    assert read_table(spark, path).filter(F.col("currency") == "USD").count() == 1
    # A crashed writer's leftover lock fails loudly too (no takeover),
    # and recovery is removing the file.
    (Path(path) / "_writer.lock").write_text("pid=0 ts=0 owner=crashed\n")
    with pytest.raises(ConcurrentWriteError):
        idempotent_append(spark, inc, path, ["currency", "timestamptz"])
    (Path(path) / "_writer.lock").unlink()


def test_sync_ships_recent_rows_to_spool(spark, tmp_path):
    from finance_pipeline_spark.pipelines.api_pipeline import run_api_process

    spool = str(tmp_path / "spool")
    conf = _conf(
        tmp_path,
        fetch_json=file_fetcher(FIXTURES / "frankfurter.json"),
        sync_transport=SpoolTransport(spool),
    )
    run_api_process(spark, conf)
    records = []
    for f in Path(spool).glob("*.jsonl"):
        records += [json.loads(line) for line in f.read_text().splitlines()]
    assert len(records) == 13
    assert all(r["source"] == "api" for r in records)
    assert all("id" not in r for r in records)


def test_alerter_gates_on_config_and_uses_transport():
    from finance_pipeline_spark.alerting import alert_admin

    sent = []
    env = {
        "EMAIL_ADDRESS": "ops@example.test",
        "EMAIL_PASSWORD": "pw",
        "RECIPIENT_EMAIL": "admin@example.test",
        "SMTP_SERVER": "smtp.example.test",
        "SMTP_PORT": "587",
    }
    ok = alert_admin(
        "table missing", "Scraping Error",
        send=lambda *a: sent.append(a), env=env,
    )
    assert ok and len(sent) == 1
    assert sent[0][4]["Subject"] == "Scraping Error"
    # Missing config → logged skip, False, no raise.
    assert alert_admin("x", env={}) is False


def test_python_datasource_matches_rest_source(spark, tmp_path):
    """§2.9 Python DataSource API: the registered frankfurter_rates
    format must produce exactly the rows the driver-side REST source
    builds from the same payload (schema, flatten, CET→UTC stamp)."""
    from finance_pipeline_spark.sources import python_datasource
    from finance_pipeline_spark.sources.rest_source import rates_from_json

    python_datasource.register(spark)
    payload = (FIXTURES / "frankfurter.json").read_text()
    via_ds = spark.read.format("frankfurter_rates").load(
        str(FIXTURES / "frankfurter.json")
    )
    via_rest = rates_from_json(spark, payload)
    assert via_ds.schema.simpleString() == via_rest.schema.simpleString()
    assert sorted(map(tuple, via_ds.collect())) == sorted(
        map(tuple, via_rest.collect())
    )


def test_python_datasource_partitions_per_file(spark, tmp_path):
    """Backfill shape: a directory of daily payloads reads as one
    partition per file."""
    from finance_pipeline_spark.sources import python_datasource

    python_datasource.register(spark)
    days = tmp_path / "days"
    days.mkdir()
    for d in ("2025-01-10", "2025-07-10"):  # one CET day, one CEST day
        days.joinpath(f"{d}.json").write_text(
            json.dumps({"base": "EUR", "date": d, "rates": {"USD": 1.1, "GBP": 0.9}})
        )
    df = spark.read.format("frankfurter_rates").load(str(days))
    assert df.rdd.getNumPartitions() == 2
    hours = {
        (r.date.isoformat(), r.timestamptz.hour) for r in df.select("date", "timestamptz").collect()
    }
    # 16:00 CET = 15:00 UTC in winter, 14:00 UTC in summer (CEST).
    assert hours == {("2025-01-10", 15), ("2025-07-10", 14)}


def test_http_fetcher_retries_transient_then_succeeds():
    """Socket-level failures retry with doubling backoff; the body
    arrives on the third attempt without any real network or sleeping."""
    import urllib.error

    from finance_pipeline_spark.sources.rest_source import http_fetcher

    attempts, pauses = [], []

    def opener(url, timeout):
        attempts.append((url, timeout))
        if len(attempts) < 3:
            raise urllib.error.URLError(OSError(104, "connection reset"))
        return '{"ok": true}'

    fetch = http_fetcher(
        "http://example.invalid/rates", timeout=2.5,
        retries=3, backoff=0.5, opener=opener, sleep=pauses.append,
    )
    assert fetch() == '{"ok": true}'
    assert attempts == [("http://example.invalid/rates", 2.5)] * 3
    assert pauses == [0.5, 1.0]  # exponential backoff between failures


def test_http_fetcher_gives_up_after_retries_and_4xx_is_immediate():
    """Exhausted retries surface the last transient error; HTTP 4xx
    short-circuits with no retry (the request itself is wrong)."""
    import io
    import urllib.error

    import pytest

    from finance_pipeline_spark.sources.rest_source import http_fetcher

    calls, pauses = [], []

    def always_down(url, timeout):
        calls.append(url)
        raise TimeoutError("timed out")

    fetch = http_fetcher(
        "http://example.invalid/x", retries=2, backoff=0.1,
        opener=always_down, sleep=pauses.append,
    )
    with pytest.raises(TimeoutError):
        fetch()
    assert len(calls) == 3 and pauses == [0.1, 0.2]

    def not_found(url, timeout):
        calls.append(url)
        raise urllib.error.HTTPError(url, 404, "nope", {}, io.BytesIO())

    fetch404 = http_fetcher(
        "http://example.invalid/y", retries=5, opener=not_found, sleep=pauses.append,
    )
    n_before = len(calls)
    with pytest.raises(urllib.error.HTTPError):
        fetch404()
    assert len(calls) == n_before + 1  # exactly one attempt, no backoff


def test_http_fetcher_feeds_fetch_rates_degradation(spark):
    """The retrying client plugs into the existing Fetcher seam: total
    failure degrades to None (the reference's early-exit contract),
    it does not raise through the pipeline."""
    from finance_pipeline_spark.sources.rest_source import fetch_rates, http_fetcher

    def always_down(url, timeout):
        raise OSError(101, "network unreachable")

    fetch = http_fetcher(
        "http://example.invalid/z", retries=1, opener=always_down, sleep=lambda s: None,
    )
    assert fetch_rates(spark, fetch) is None


def test_main_cli_runs_etl_end_to_end(tmp_path):
    """The repo-root CLI (the reference main.py's port) must run the
    full three-stage ETL on offline fixtures in a fresh process and
    report per-stage stats as one JSON line on stdout."""
    import json as _json
    import subprocess
    import sys as _sys

    csv = _write_history_csv(tmp_path)
    repo = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [
            _sys.executable,
            "main.py",
            "--warehouse", str(tmp_path / "wh"),
            "--history-csv", csv,
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=600,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = _json.loads(out.stdout.strip().splitlines()[-1])
    assert report["failed"] == []
    assert report["stages"]["api"]["inserted"] > 0
    assert report["stages"]["csv"]["inserted"] > 0
    assert report["stages"]["scrape"]["inserted"] > 0


def test_corpus_cli_ingest_screen_optimize_export(spark, tmp_path, capsys):
    """The corpus subcommand surface drives the whole LLM-data tier:
    ingest (index-screened stream) → screen (batch verdicts) →
    optimize (index compaction) → export (sharded JSONL). In-process
    invocation reuses the test session via get_session's getOrCreate;
    the shell path is covered by the existing subprocess ETL test."""
    import json as _json

    import pandas as pd

    import main as cli

    src = tmp_path / "incoming"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta gamma", "delta epsilon zeta", "eta theta iota"],
            "lang": ["en"] * 3,
            "source": ["crawl"] * 3,
            "n_chars": [16, 18, 14],
        }
    ).to_parquet(src / "f1.parquet")

    index = str(tmp_path / "index")
    kept = str(tmp_path / "kept")
    rc = cli.main(
        [
            "corpus", "ingest",
            "--source-dir", str(src),
            "--index", index,
            "--kept", kept,
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batches"][0]["kept"] == 3

    probe = tmp_path / "probe.parquet"
    pd.DataFrame({"doc_id": [10, 11], "text": ["alpha beta gamma", "novel words here"]}).to_parquet(probe)
    rc = cli.main(["corpus", "screen", "--index", index, "--input", str(probe)])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["verdicts"].get("drop_exact") == 1
    assert out["verdicts"].get("keep") == 1

    rc = cli.main(["corpus", "optimize", "--index", index])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "digests" in out

    export = str(tmp_path / "export")
    rc = cli.main(
        ["corpus", "export", "--kept", kept, "--out", export,
         "--n-shards", "2", "--format", "jsonl"]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"n_rows": 3, "n_shards": 2}

    from finance_pipeline_spark.sinks.shard_writer import verify_jsonl_shards

    assert verify_jsonl_shards(spark, export) == []


def test_corpus_cli_curate(spark, tmp_path, capsys):
    """`main.py corpus curate` drives the batch curation pipeline end
    to end and prints one JSON stats line with the stage accounting."""
    import json as _json
    import random

    import pandas as pd

    import main as cli
    from conftest import random_doc

    rng = random.Random(3)
    base = [random_doc(rng, 60) for _ in range(12)]
    rows = [(i + 1, t) for i, t in enumerate(base)]
    rows.append((99, base[0]))  # one exact duplicate
    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["t"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(src / "documents.parquet")

    out_dir = str(tmp_path / "curated")
    rc = cli.main(
        ["corpus", "curate", "--source-dir", str(src), "--out", out_dir,
         "--n-shards", "2"]
    )
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_input"] == 13
    assert stats["n_exact_unique"] == 12  # the planted duplicate went
    assert stats["manifest"] == {"n_rows": stats["n_exported"], "n_shards": 2}
    assert sum(stats["splits"].values()) == stats["n_exported"]

    from finance_pipeline_spark.sinks.shard_writer import verify_training_shards

    assert verify_training_shards(spark, out_dir) == []


def test_corpus_cli_lm_add_and_screen(spark, tmp_path, capsys):
    """`main.py corpus lm-add` grows the stored LM; `lm-screen` scores
    a new batch against it."""
    import json as _json
    import random

    import pandas as pd

    import main as cli
    from conftest import random_doc

    rng = random.Random(23)
    corpus = pd.DataFrame(
        {
            "doc_id": list(range(1, 16)),
            "text": [random_doc(rng, 40) for _ in range(15)],
        }
    )
    corpus.to_parquet(tmp_path / "corpus.parquet")
    probe = pd.DataFrame(
        {
            "doc_id": [100, 101],
            "text": [
                random_doc(rng, 40),
                " ".join(f"zz{i}q" for i in range(20)),  # gibberish
            ],
        }
    )
    probe.to_parquet(tmp_path / "probe.parquet")

    index = str(tmp_path / "lm")
    rc = cli.main(
        ["corpus", "lm-add", "--index", index,
         "--input", str(tmp_path / "corpus.parquet")]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["uni_rows"] > 0 and out["bi_rows"] > 0

    scores_dir = str(tmp_path / "scores")
    rc = cli.main(
        ["corpus", "lm-screen", "--index", index,
         "--input", str(tmp_path / "probe.parquet"), "--out", scores_dir]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["scored"] == 2 and out["unfamiliar"] == 1
    got = {r.doc_id: r.unfamiliar for r in spark.read.parquet(scores_dir).collect()}
    assert got == {100: False, 101: True}


def test_corpus_cli_ann_build_add_search(spark, tmp_path, capsys):
    """CLI round-trip for the stored vector index: build over a small
    clustered corpus, add a planted near-duplicate, search finds it."""
    import json as _json

    import numpy as np
    import pandas as pd

    import main as cli

    rng = np.random.default_rng(3)
    centers = 6.0 * rng.standard_normal((6, 64))
    mat = np.vstack(
        [centers[b] + 0.3 * rng.standard_normal((15, 64)) for b in range(6)]
    )
    ids = list(range(1, len(mat) + 1))
    pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [r.astype(np.float64).tolist() for r in mat],
        }
    ).to_parquet(tmp_path / "corpus.parquet")

    index = str(tmp_path / "ann")
    rc = cli.main(
        ["corpus", "ann-build", "--index", index,
         "--input", str(tmp_path / "corpus.parquet")]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["codes_inserted"] == len(ids)

    # planted near-copy of vector 1, then a query at vector 1
    new_vec = mat[0] + 0.01 * rng.standard_normal(64)
    pd.DataFrame(
        {"vec_id": [900001], "embedding": [new_vec.tolist()]}
    ).to_parquet(tmp_path / "batch.parquet")
    rc = cli.main(
        ["corpus", "ann-add", "--index", index,
         "--input", str(tmp_path / "batch.parquet")]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["codes_inserted"] == 1

    pd.DataFrame(
        {"query_id": [1], "q_emb": [mat[0].tolist()]}
    ).to_parquet(tmp_path / "queries.parquet")
    pd.concat(
        [
            pd.read_parquet(tmp_path / "corpus.parquet"),
            pd.read_parquet(tmp_path / "batch.parquet"),
        ]
    ).to_parquet(tmp_path / "corpus2.parquet")
    hits_dir = str(tmp_path / "hits")
    rc = cli.main(
        ["corpus", "ann-search", "--index", index,
         "--queries", str(tmp_path / "queries.parquet"),
         "--corpus", str(tmp_path / "corpus2.parquet"),
         "--k", "3", "--out", hits_dir]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["hits"] == 3
    rows = {r.rnk: r.corpus_id for r in spark.read.parquet(hits_dir).collect()}
    assert rows[1] == 900001  # the planted near-copy is rank-1
