"""Tests for the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload at the ``tiny`` profile in a
subprocess (about half a minute each).
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _same_tree(a: Path, b: Path) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = sorted(p.name for p in a.iterdir())
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors)


@pytest.mark.parametrize("profile", ["tiny", "full"])
def test_same_seed_same_inputs(tmp_path, profile):
    as_of = dt.date(2026, 3, 31)
    for run in ("a", "b"):
        m = gen.make_forex(tmp_path / run / "forex", 7, as_of, profile)
        gen.make_corpus(tmp_path / run / "corpus", 7, profile)
        gen.make_query_tables(tmp_path / run / "sf", 7, profile)
        (tmp_path / run / "manifest.json").write_text(json.dumps(m, sort_keys=True))
    for sub in ("forex", "corpus", "sf"):
        assert _same_tree(tmp_path / "a" / sub, tmp_path / "b" / sub), sub
    assert filecmp.cmp(tmp_path / "a/manifest.json", tmp_path / "b/manifest.json", shallow=False)

    gen.make_forex(tmp_path / "c", 8, as_of, profile)
    assert not filecmp.cmp(
        tmp_path / "a/forex/history_base.csv", tmp_path / "c/history_base.csv", shallow=False
    )


def test_forex_manifest_counts(tmp_path):
    """The expected counts follow from the plan: the backfill loads the
    whole clean history, each day inserts one row per currency and the
    replay inserts nothing."""
    prof = gen.PROFILES["tiny"]
    m = gen.make_forex(tmp_path, 3, dt.date(2026, 1, 31), "tiny")
    today = m["as_of"]
    exp = m["expected"]
    assert exp["backfill"]["csv_by_today"][today] == {
        "inserted": prof["forex_currencies"] * prof["forex_days"], "skipped": 0,
    }
    for i in range(1, prof["forex_daily_runs"] + 1):
        assert exp[f"daily{i}"]["csv_by_today"][today]["inserted"] == prof["forex_currencies"]
    assert exp["replay"]["csv_by_today"][today]["inserted"] == 0
    assert exp["replay"]["api"] == {"inserted": 0, "skipped": prof["forex_api_currencies"]}


def test_add_months_matches_spark_clamping():
    assert gen.add_months(dt.date(2026, 3, 31), -1) == dt.date(2026, 2, 28)
    assert gen.add_months(dt.date(2024, 3, 31), -1) == dt.date(2024, 2, 29)
    assert gen.add_months(dt.date(2026, 1, 15), -13) == dt.date(2024, 12, 15)


def test_parse_metric():
    assert spans.parse_metric("4,000") == 4000
    assert spans.parse_metric("1.4 s") == pytest.approx(1.4)
    assert spans.parse_metric("216 ms") == pytest.approx(0.216)
    assert spans.parse_metric("63.4 KiB") == pytest.approx(63.4 * 1024)
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.8 s (582 ms, 734 ms, 790 ms (stage 4.0: task 3))"
    ) == pytest.approx(2.8)


def test_self_time_subtracts_covered_child_time():
    tr = spans.Tracer.__new__(spans.Tracer)
    parent = spans.Span("p", None)
    parent.start, parent.end = 0.0, 10.0
    kids = []
    for a, b in ((1.0, 3.0), (2.0, 4.0), (6.0, 7.0)):  # overlap counts once
        k = spans.Span("c", parent)
        k.start, k.end = a, b
        kids.append(k)
    tr.spans = [parent, *kids]
    assert tr.self_time(parent) == pytest.approx(6.0)


def test_benchmark_json_lists_every_per_layer_metric():
    assert [m["name"] for m in BENCH["per_layer"]] == workloads.per_layer_names()
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(workloads.WORKLOADS)


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--profile", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    out = _run("forex_etl", 0, cwd=tmp_path)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
