"""Registry contract: every query registered once, every oracle is
valid DuckDB SQL over the driver tables (EXPLAIN-checked, cheap), and
the driver entry module exposes the full set."""

from __future__ import annotations

import duckdb
import pytest

from finance_pipeline_spark import registry

registry.load_all()

SF = "/root/testdata/sf0.001"


def test_registry_has_expected_surface():
    assert len(registry.QUERIES) >= 61
    bench = [n for n, s in registry.QUERIES.items() if s.bench]
    assert len(bench) >= 8
    for name, spec in registry.QUERIES.items():
        assert spec.fn is not None and name == spec.name


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in registry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def test_all_oracles_are_valid_duckdb_sql(duck):
    bad = []
    for name, spec in registry.QUERIES.items():
        if spec.oracle is None:
            continue
        try:
            duck.execute(f"EXPLAIN {spec.oracle_text()}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e)[:120]))
    assert not bad, bad


def test_entry_module_exposes_registry():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(registry.QUERIES)
    assert list(qs) == list(registry.PRIORITY)


def test_driver_window_covers_every_family():
    """The driver evaluates only the first DRIVER_WINDOW queries(); the
    curated PRIORITY order must keep one-plus representative of every
    operator family — and the whole beyond-reference tier — inside it."""
    ordered = registry.ordered_queries()  # raises on PRIORITY drift
    window = list(ordered)[: registry.DRIVER_WINDOW]

    must_be_in_window = {
        # rows-only by design — window-pinned (can never earn fold
        # evidence under the hash-green rule)
        "ann_ivfpq_scaled", "ann_index_serve",
        # flagship — window-pinned
        "agg_pricing_summary",
        # NEW r16: exhaustive-mode recall bound for the two rows-only
        # entries (r15 verdict item 4) — first driver evidence
        "ann_scaled_recall",
        # the full r12-evidence cohort (41) — the registry's oldest
        # driver rows, mandatory under the standing evidence contract
        "mm_decode_jpeg", "mm_video_frames", "text_warc_extract",
        "mm_decode_gif", "mm_gif_frames", "mm_phash_groups",
        "text_kn3_perplexity", "s6_jdbc_scan", "dedup_connected_star",
        "win_sliding", "d8_trim", "profile_columns",
        "hist_value_buckets", "ts_moving_features",
        "win_distribution_family", "affinity_part_pairs",
        "metric_rolling_active", "winsorize_values",
        "ts_resample_ffill", "attribution_first_last",
        "text_tfidf_topk", "stream_decode_quarantine",
        "dedup_minhash_lsh", "dedup_bloom_screen", "text_pii_scrub",
        "text_source_quota", "win_session", "cdc_latest_state",
        "scd2_order_status", "d4_custom_format_parse", "u2_anti_join",
        "a3_affected_rows", "grouped_user_gaps",
        "stream_session_counts", "stream_dedup", "mm_binary_meta",
        "o2_topk_single", "p8_watermark_filter", "s6_sql_table_scan",
        "join_skew_enrich", "join_asof",
        # r16 changed-code re-earns: the two deferred _spread_vectors
        # fixes (r15 verdict item 2)
        "ann_cosine_topk", "ann_lsh_topk",
        # staged registrations, first driver evidence (audio quartet
        # holds for r17 — see ROTATION_LOG)
        "text_pack_efficiency", "text_winnow_fingerprint",
        "text_cms_heavy_hitters",
    }
    missing = must_be_in_window - set(window)
    assert not missing, f"fell out of the driver window: {sorted(missing)}"

    # every past-fold query carries a hash-green driver row from a prior round
    past_fold = set(ordered) - set(window)
    import json
    from pathlib import Path

    proven = set()
    for f in (
        "CORRECTNESS_r01.json",
        "CORRECTNESS_r02.json",
        "CORRECTNESS_r03.json",
        "CORRECTNESS_r04.json",
        "CORRECTNESS_r05.json",
        "CORRECTNESS_r06.json",
        "CORRECTNESS_r07.json",
        "CORRECTNESS_r08.json",
        "CORRECTNESS_r09.json",
        "CORRECTNESS_r10.json",
        "CORRECTNESS_r11.json",
        "CORRECTNESS_r12.json",
        "CORRECTNESS_r13.json",
        "CORRECTNESS_r14.json",
        "CORRECTNESS_r15.json",
    ):
        p = Path(__file__).resolve().parents[1] / f
        if p.exists():
            rows = json.loads(p.read_text())
            # hash-green only: a rows-only ('no_oracle') driver row
            # verified nothing about values and doesn't count as
            # evidence for rotating a query out of the window.
            proven |= {n for n, r in rows.items() if r.get("hash_match")}
    unproven = past_fold - proven
    assert not unproven, f"past-fold queries without prior driver row: {sorted(unproven)}"

    # rotation hygiene (round-3 advisory): every ROTATION_LOG "out" entry
    # must be proven; the LATEST round's "in" entries must actually be in
    # the window (older rounds' in-entries legitimately rotate out again).
    latest = max(registry.ROTATION_LOG, key=lambda r: int(r[1:]))
    assert set(registry.ROTATION_LOG[latest]["in"]) <= set(window), (
        latest, "in entries not in window",
    )
    for rnd, swap in registry.ROTATION_LOG.items():
        assert set(swap["out"]) <= proven, (rnd, "out entries lack prior evidence")


def test_documented_rotation_counts_match_rotation_log():
    """r13 advisor: README/SURVEY rotation counts drifted from the
    ROTATION_LOG tuples (three mutually disagreeing numbers for r12).
    Every 'N in / M out' claim that names a ROTATION_LOG round in the
    docs must equal len(log['in']) / len(log['out'])."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    # two documented phrasings: `ROTATION_LOG["rN"]`, ... K in / M out
    # (README) and 'Rotation rN** (K in / M out' / 'K-in/M-out' (SURVEY)
    pats = [
        re.compile(
            r'ROTATION_LOG\["(r\d+)"\]`,\s*(\d+) in / (\d+) out'
        ),
        re.compile(r"Rotation (r\d+)\*\* \((\d+) in / (\d+) out"),
    ]
    checked = 0
    for doc in ("README.md", "SURVEY.md"):
        text = (root / doc).read_text()
        for pat in pats:
            for rnd, n_in, n_out in pat.findall(text):
                log = registry.ROTATION_LOG.get(rnd)
                assert log is not None, (doc, rnd)
                assert (int(n_in), int(n_out)) == (
                    len(log["in"]),
                    len(log["out"]),
                ), (doc, rnd, n_in, n_out, len(log["in"]), len(log["out"]))
                checked += 1
    assert checked >= 6, f"doc-count patterns matched only {checked} claims"


def test_oracle_constants_stay_in_sync_with_spark_path(monkeypatch):
    """The r6-flagged foot-gun: an oracle f-string that captures a
    module constant at import while the Spark path reads it at call
    time desyncs under a runtime override. Every constant-interpolating
    oracle is now a callable resolved by oracle_text() at ACCESS time,
    so monkeypatching the constant must change the rendered SQL."""
    from finance_pipeline_spark.operators import dedup

    spec = registry.QUERIES["dedup_ngram_jaccard"]
    assert callable(spec.oracle)
    assert f"rn <= {dedup._NGRAM_BLOCK_CAP}" in spec.oracle_text()
    monkeypatch.setattr(dedup, "_NGRAM_BLOCK_CAP", 7)
    assert "rn <= 7" in spec.oracle_text()

    # repo-wide rule: no registered oracle STRING interpolates a live
    # module global (plain-string oracles must be constant-free SQL) —
    # enforced structurally: every f-oracle in the operator modules is
    # a lambda/builder, i.e. callable here.
    n_callable = sum(1 for s in registry.QUERIES.values() if callable(s.oracle))
    assert n_callable >= 25


def test_parquet_row_count_memo_keys_on_file_identity(tmp_path):
    """r17 footer-count memo: same file → one footer read (memoized);
    a REWRITTEN file (new size/mtime) re-counts — the memo must never
    serve a stale count, because sizing helpers derive shuffle widths
    from it. A directory dataset re-counts when a part file inside it
    is rewritten in place, which leaves the directory's own stat
    unchanged."""
    import pandas as pd

    from finance_pipeline_spark.registry import _ROW_COUNT_MEMO, parquet_row_count

    p = tmp_path / "t.parquet"
    pd.DataFrame({"a": range(10)}).to_parquet(p)
    assert parquet_row_count(str(p)) == 10
    key_count = sum(1 for k in _ROW_COUNT_MEMO if k[0] == str(p.resolve()))
    assert key_count == 1
    assert parquet_row_count(str(p)) == 10  # served from the memo

    pd.DataFrame({"a": range(25)}).to_parquet(p)  # rewrite in place
    assert parquet_row_count(str(p)) == 25  # new identity, re-counted

    d = tmp_path / "ds.parquet"
    d.mkdir()
    pd.DataFrame({"a": range(4)}).to_parquet(d / "part-0.parquet")
    pd.DataFrame({"a": range(6)}).to_parquet(d / "part-1.parquet")
    assert parquet_row_count(str(d)) == 10
    pd.DataFrame({"a": range(30)}).to_parquet(d / "part-1.parquet")
    assert parquet_row_count(str(d)) == 34  # part rewritten in place
