"""Record ``expected.json``: the golden curation counts and query results.

    python3 perfbench/record_expected.py [--seeds 0 1 2]

For each size profile it generates the corpus and the query tables with
every seed given, runs ``curate_corpus`` and each ``QUERY_MIX`` query,
and requires the same result for every seed (the seed only reorders
rows). Each query with a DuckDB oracle must also match the oracle, in
``tools/check_oracle.py``'s canonical form; queries without one are
recorded by row count only. Exits non-zero, writing nothing, on any
disagreement.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent), str(HERE.parent / "tools")]

import duckdb  # noqa: E402

import gen  # noqa: E402
import workloads  # noqa: E402

CURATE_KEYS = [
    "n_input", "n_screened", "n_lm_familiar", "n_exact_unique",
    "n_after_near_dedup", "n_after_scrub", "n_decontaminated",
    "n_exported", "residual_leak_pairs", "splits",
]


def record(spark, work: Path, profile: str, seeds: list[int]) -> tuple[dict, list[str]]:
    from check_oracle import canon
    from finance_pipeline_spark import registry
    from finance_pipeline_spark.pipelines.curation import curate_corpus

    problems, corpus, queries = [], None, None
    for seed in seeds:
        cdir = work / f"corpus-{profile}-{seed}"
        gen.make_corpus(cdir, seed, profile)
        stats = curate_corpus(spark, str(cdir), str(work / f"out-{profile}-{seed}"), n_shards=4)
        got = {k: stats[k] for k in CURATE_KEYS}
        if corpus is None:
            corpus = got
        elif got != corpus:
            problems.append(f"{profile} seed {seed}: curation {got} != {corpus}")

        sf = work / f"sf-{profile}-{seed}"
        gen.make_query_tables(sf, seed, profile)
        con = duckdb.connect()
        for t in registry.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        got = {}
        for name in workloads.QUERY_MIX:
            spec = registry.QUERIES[name]
            pdf = spec.fn(spark, str(sf)).toPandas()
            got[name] = {"rows": len(pdf)}
            if spec.oracle is None:
                continue
            got[name]["sha256"] = workloads.frame_digest(pdf)
            opd = con.execute(spec.oracle_text()).fetchdf()
            if canon(pdf) != canon(opd):
                problems.append(f"{profile} seed {seed}: {name} differs from its oracle")
        con.close()
        if queries is None:
            queries = got
        else:
            problems += [
                f"{profile} seed {seed}: {n} {got[n]} != {queries[n]}"
                for n in got if got[n] != queries[n]
            ]
    return {"corpus_curate": corpus, "query_mix": queries}, problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[0, 1, 2])
    args = ap.parse_args()

    from finance_pipeline_spark import registry
    from finance_pipeline_spark.session import get_session

    registry.load_all()
    spark = get_session("perfbench-record")
    work = Path(tempfile.mkdtemp(prefix="perfbench-record-"))
    out = {"corpus_curate": {}, "query_mix": {}}
    problems = []
    try:
        for profile in gen.PROFILES:
            got, bad = record(spark, work, profile, args.seeds)
            problems += bad
            for k, v in got.items():
                out[k][profile] = v
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"record_expected: {p}", file=sys.stderr)
    if problems:
        return 1
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"record_expected: wrote {HERE / 'expected.json'}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
