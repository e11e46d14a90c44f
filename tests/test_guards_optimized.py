"""Load-bearing guards must raise real exceptions, so they still fire
under ``python -O`` (which strips ``assert`` statements). Each guard
below is Spark-free. The in-process test checks them in whatever mode
pytest runs; the subprocess test re-runs them under ``python -O``, so
a guard that regresses to an ``assert`` fails the normal suite too.

This file avoids bare ``assert`` so it stays meaningful when pytest
itself runs under ``-O`` (CI: ``python -O -m pytest
tests/test_guards_optimized.py``)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

_REPO = Path(__file__).resolve().parents[1]


def _round_scaled_past_exact_range():
    import numpy as np

    from finance_pipeline_spark.operators.similarity import _spark_round_scaled

    _spark_round_scaled(np.array([0.5, 1e7]), 9)  # 1e16 >= 2^53


def _fill_ring_outgrown():
    from finance_pipeline_spark.operators.jpeg import _BitReader

    r = _BitReader(bytes(range(1, 9)) + b"\xff\xd0", 0)
    r._fill_to(40)  # 5 buffered bytes; the fill ring holds 4
    r.align_and_skip_restart()


def _dc_category_past_annex_k():
    import numpy as np

    from finance_pipeline_spark.operators.jpeg import _entropy_encode

    blocks = np.zeros((1, 1, 64), dtype=np.int64)
    blocks[0, 0, 0] = 4096  # DC differential of category 13 > 11
    _entropy_encode([blocks], [(1, 1, 1, 0)], 1, 1, 0)


def _fetcher_negative_retries():
    from finance_pipeline_spark.sources.rest_source import http_fetcher

    http_fetcher("http://localhost/unused", retries=-1, opener=lambda u, t: "")()


# (guard, expected exception type, message fragment)
GUARDS = [
    (_round_scaled_past_exact_range, ValueError, "exact range"),
    (_fill_ring_outgrown, RuntimeError, "fill ring"),
    (_dc_category_past_annex_k, ValueError, "category 13 > 11"),
    (_fetcher_negative_retries, ValueError, "retries must be >= 0"),
]


def run_guards() -> list[str]:
    """Run every guard; return one line per guard that failed to raise
    the expected exception (empty when all hold)."""
    bad = []
    for fn, exc, frag in GUARDS:
        try:
            fn()
        except exc as e:
            if frag not in str(e):
                bad.append(f"{fn.__name__}: message {str(e)!r} lacks {frag!r}")
        except Exception as e:  # noqa: BLE001 — report the wrong type
            bad.append(f"{fn.__name__}: raised {type(e).__name__}: {e}")
        else:
            bad.append(f"{fn.__name__}: did not raise")
    return bad


@pytest.mark.parametrize("guard, exc, frag", GUARDS, ids=[g[0].__name__ for g in GUARDS])
def test_guard_raises(guard, exc, frag):
    with pytest.raises(exc, match=frag):
        guard()


def test_guards_raise_under_python_O():
    script = (
        "import runpy, sys\n"
        "if __debug__:\n"
        "    sys.exit('not running under -O')\n"
        f"bad = runpy.run_path({__file__!r})['run_guards']()\n"
        "print('\\n'.join(bad))\n"
        "sys.exit(1 if bad else 0)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-O", "-c", script],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    if proc.returncode != 0:
        pytest.fail(f"guards under -O:\n{proc.stdout}\n{proc.stderr[-2000:]}")
