"""The benchmark's two workloads.

Each workload generates its inputs (``prepare``), warms up as part of
set-up (``warmup``), runs timed passes (``run_pass``) and checks its
outputs untimed. A pass is a list of named steps, each timed around one
call into the package's public entry point:

- ``forex_etl``: ``pipelines.run_etl`` for the backfill, each daily
  increment and the replay of the last day;
- ``corpus_and_queries``: ``registry.QUERIES[name].fn`` for each query
  of ``QUERY_MIX``, forced with a ``noop`` write as ``bench.py`` does,
  then ``pipelines.curation.curate_corpus``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import gen
from spans import Tracer

HERE = Path(__file__).resolve().parent

# One bench=True query per operator module, in ``bench.py``'s order with
# the streaming query last. A pass over all 47 takes about 30 s warm and
# 50 s cold at four cores whatever the data size, too long for a run of
# about a minute; this set keeps every module, and two of the fan-out-bound
# queries ROADMAP item E names (mm_phash_planted_pairs, text_tfidf_topk).
# It leaves out the two queries that keep state between calls
# (ann_index_serve's stored index, stream_dedup's readStream staging):
# building and settling them would add about 15 s to every run.
QUERY_MIX = [
    "agg_pricing_summary",      # operators.aggregates
    "dedup_minhash_lsh",        # operators.dedup
    "mm_phash_planted_pairs",   # operators.multimodal
    "u2_anti_join",             # operators.relational
    "ann_cosine_topk",          # operators.similarity
    "join_skew_enrich",         # operators.skew
    "join_asof",                # operators.temporal
    "text_tfidf_topk",          # operators.textops
    "merge_upsert_orders",      # operators.warehouse
    "win_tumbling",             # operators.streaming_batch
]
QUERY_MODULES = [
    "aggregates", "dedup", "multimodal", "relational", "similarity",
    "skew", "streaming_batch", "temporal", "textops", "warehouse",
]
CURATION_STAGES = [
    "screen", "lm_screen", "exact_dedup", "near_dedup",
    "span_scrub", "decontaminate", "leak_audit", "export",
]
CURATION_COUNTERS = [
    "spark_jobs", "spark_stages", "shuffle_write_mb", "spill_mb",
    "python_exec_s", "python_sent_mb",
]
FOREX_PHASES = ["backfill", "daily", "replay"]
FOREX_LAYERS = [
    "pipelines.api_pipeline", "pipelines.csv_pipeline",
    "pipelines.scrape_pipeline", "sinks.keyed_writer", "sinks.csv_sink",
]


@dataclass
class PassResult:
    steps: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json's order."""
    names = [
        "session.get_session_s", "registry.load_all_s", "session.warmup_s",
        "host.calibration_s", "process.peak_rss_mb", "trace.overhead_frac",
    ]
    for p in FOREX_PHASES:
        names += [f"{p}.{layer}_s" for layer in FOREX_LAYERS]
        names += [f"{p}.spark_jobs", f"{p}.spark_stages"]
    names += [
        "backfill.sources.csv_rows_read_per_row_loaded",
        "daily.sinks.table_rows_read_per_row_inserted",
    ]
    names += [f"pipelines.curation.{s}_s" for s in CURATION_STAGES]
    names += [f"pipelines.curation.{c}" for c in CURATION_COUNTERS]
    for m in QUERY_MODULES:
        names += [f"operators.{m}_s"] + [
            f"operators.{m}.{c}"
            for c in ("spark_jobs", "spark_stages", "shuffle_write_mb", "python_exec_s")
        ]
    return names


def expected() -> dict:
    """Golden curation counts and query results, per size profile
    (written by ``record_expected.py``)."""
    return json.loads((HERE / "expected.json").read_text())


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_digest(df, key: str) -> dict:
    """``gen.rows_digest`` of a rate table's rows, worked out in Spark."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        "|",
        F.col(key),
        F.date_format("timestamptz", "yyyy-MM-dd'T'HH:mm:ss"),
        F.round(F.col("exchange_rate") * 1e6).cast("long").cast("string"),
    )
    prefix = F.conv(F.substring(F.sha2(line, 256), 1, 16), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(prefix).alias("s")).first()
    return {"rows": row["n"], "sha256_sum": str(row["s"] or 0)}


def _utc_today() -> dt.date:
    return dt.datetime.now(dt.timezone.utc).date()


class Workload:
    name = ""

    def __init__(self, work: Path, seed: int, profile: str):
        self.work, self.seed, self.profile = work, seed, profile

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """Untimed work that set-up includes; none by default."""

    def run_pass(self, spark, k: int, tracer: Tracer | None) -> PassResult:
        raise NotImplementedError

    def final_check(self, spark) -> PassResult:
        return PassResult()

    def trace_targets(self) -> list[tuple[str, str, str]]:
        """(module, attribute, span name) to wrap in the traced pass."""
        return []

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class ForexEtl(Workload):
    name = "forex_etl"

    def prepare(self) -> None:
        self.as_of = _utc_today()
        self.inputs = self.work / "forex"
        self.manifest = gen.make_forex(self.inputs, self.seed, self.as_of, self.profile)
        self.warm_inputs = self.work / "forex_warm"
        warm = "warm" if self.profile == "full" else self.profile
        self.warm_manifest = gen.make_forex(self.warm_inputs, self.seed, self.as_of, warm)

    def _conf(self, root: Path, inputs: Path, day: str, months: int):
        from finance_pipeline_spark.pipelines.config import PipelineConfig
        from finance_pipeline_spark.sources.rest_source import file_fetcher

        return PipelineConfig(
            warehouse_dir=str(root / "warehouse"),
            processed_dir=str(root / "processed"),
            raw_csv_path=str(root / "history.csv"),
            months=months,
            fetch_json=file_fetcher(inputs / f"api_{day}.json"),
            fetch_html=file_fetcher(inputs / f"xrates_{day}.html"),
        )

    def warmup(self, spark) -> None:
        """A smaller backfill, into a throw-away warehouse, so the timed
        backfill does not pay the JVM's first Spark jobs and compilation."""
        from finance_pipeline_spark.pipelines import run_etl

        phases = self._phases(self.work / "warm", self.warm_inputs, self.warm_manifest)
        _, conf = next(phases)
        run_etl(spark, conf)

    def _phases(self, root: Path, inputs: Path, m: dict):
        """(phase, config) for the backfill, each daily run and the replay,
        in order; the history file under ``root`` grows before each day."""
        root.mkdir(parents=True)
        shutil.copyfile(inputs / "history_base.csv", root / "history.csv")
        plan = [("backfill", m["backfill_date"], m["backfill_months"], None)]
        plan += [(f"daily{i}", d, 1, i) for i, d in enumerate(m["daily_dates"], start=1)]
        plan.append(("replay", m["daily_dates"][-1], 1, None))
        for phase, day, months, append in plan:
            if append is not None:
                with open(root / "history.csv", "a") as f:
                    f.write((inputs / f"history_day{append}.csv").read_text())
            yield phase, self._conf(root, inputs, day, months)

    def run_pass(self, spark, k: int, tracer: Tracer | None) -> PassResult:
        from finance_pipeline_spark.pipelines import run_etl

        res = PassResult()
        root = self.work / f"pass{k}"
        for phase, conf in self._phases(root, self.inputs, self.manifest):
            before = _utc_today()
            t0 = time.monotonic()
            if tracer is None:
                stats = run_etl(spark, conf)
            else:
                with tracer.span(phase, phase=phase):
                    stats = run_etl(spark, conf)
            res.steps.append((phase, time.monotonic() - t0))
            self._check_stats(res, phase, stats, {before.isoformat(), _utc_today().isoformat()})
        self._check_tables(spark, res, root / "warehouse")
        return res

    def _check_stats(self, res: PassResult, phase: str, stats: dict, todays: set) -> None:
        exp = self.manifest["expected"][phase]
        for pipe in ("api", "csv", "scrape"):
            res.attempted += 1
            got = stats.get(pipe)
            if got is None:
                res.errors.append(f"{phase}.{pipe}: pipeline returned None")
                continue
            pair = {"inserted": got.inserted, "skipped": got.skipped}
            want = [exp[pipe]] if pipe != "csv" else [
                exp["csv_by_today"][t] for t in todays if t in exp["csv_by_today"]
            ]
            if pair not in want:
                res.errors.append(f"{phase}.{pipe}: got {pair}, want {want}")

    def _check_tables(self, spark, res: PassResult, warehouse: Path) -> None:
        keys = {
            "forex_rates_history": "currency",
            "forex_rates_api": "currency",
            "forex_rates_scraped": "currency_name",
        }
        for table, key in keys.items():
            res.attempted += 1
            if not (warehouse / table).is_dir():
                res.errors.append(f"{table}: no table was written")
                continue
            got = table_digest(spark.read.parquet(str(warehouse / table)), key)
            want = self.manifest["table_hash"][table]
            if got != want:
                res.errors.append(f"{table}: digest {got} differs from the manifest's {want}")

    def trace_targets(self) -> list[tuple[str, str, str]]:
        pkg = "finance_pipeline_spark.pipelines"
        return [
            (pkg, "run_api_process", "pipelines.api_pipeline"),
            (pkg, "run_csv_loading_process", "pipelines.csv_pipeline"),
            (pkg, "run_web_scrapping_process", "pipelines.scrape_pipeline"),
            (f"{pkg}.api_pipeline", "idempotent_append", "sinks.keyed_writer"),
            (f"{pkg}.csv_pipeline", "idempotent_append", "sinks.keyed_writer"),
            (f"{pkg}.scrape_pipeline", "idempotent_append", "sinks.keyed_writer"),
            (f"{pkg}.api_pipeline", "write_append", "sinks.csv_sink"),
            (f"{pkg}.csv_pipeline", "write_overwrite", "sinks.csv_sink"),
            (f"{pkg}.scrape_pipeline", "write_merge_dedup", "sinks.csv_sink"),
        ]

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        out = {}
        roots = [s for s in tracer.spans if s.parent is None and "phase" in s.attrs]
        exp = self.manifest["expected"]
        for phase in FOREX_PHASES:
            inst = [s for s in roots if s.name.rstrip("0123456789") == phase]
            for layer in FOREX_LAYERS:
                out[f"{phase}.{layer}_s"] = median(
                    sum(tracer.self_time(x) for x in tracer.subtree(s) if x.name == layer)
                    for s in inst
                )
            for c in ("spark_jobs", "spark_stages"):
                out[f"{phase}.{c}"] = median(tracer.total(s, c) for s in inst)
            if phase == "backfill":
                s = inst[0]
                csv = [x for x in tracer.subtree(s) if x.name == "pipelines.csv_pipeline"]
                read = sum(tracer.total(x, "csv_rows_read") for x in csv)
                loaded = exp["backfill"]["csv_by_today"][self.as_of.isoformat()]["inserted"]
                out["backfill.sources.csv_rows_read_per_row_loaded"] = read / loaded
            if phase == "daily":
                ratios = []
                for s in inst:
                    writers = [x for x in tracer.subtree(s) if x.name == "sinks.keyed_writer"]
                    read = sum(tracer.total(x, "parquet_rows_read") for x in writers)
                    e = exp[s.name]
                    ins = (
                        e["api"]["inserted"] + e["scrape"]["inserted"]
                        + e["csv_by_today"][self.as_of.isoformat()]["inserted"]
                    )
                    ratios.append(read / ins)
                out["daily.sinks.table_rows_read_per_row_inserted"] = median(ratios)
        return out


# ---------------------------------------------------------------------------


class CorpusCurate(Workload):
    """``curate_corpus`` over the 10x corpus; one half of ``corpus_and_queries``."""

    def prepare(self) -> None:
        self.corpus = self.work / "corpus"
        gen.make_corpus(self.corpus, self.seed, self.profile)

    def run_pass(self, spark, k: int, tracer: Tracer | None) -> PassResult:
        from finance_pipeline_spark.pipelines.curation import curate_corpus
        from finance_pipeline_spark.sinks.shard_writer import verify_training_shards

        res = PassResult(attempted=1)
        out = self.work / f"curated{k}"
        t0 = time.monotonic()
        try:
            if tracer is None:
                stats = curate_corpus(spark, str(self.corpus), str(out), n_shards=4)
            else:
                with tracer.span("pipelines.curation") as s:
                    stats = curate_corpus(spark, str(self.corpus), str(out), n_shards=4)
                s.attrs["stage_secs"] = stats.get("stage_secs", {})
        except Exception as exc:  # noqa: BLE001 — count it and keep going
            res.errors.append(f"curate_corpus: {type(exc).__name__}: {exc}"[:300])
            return res
        res.steps = [("curate_corpus", time.monotonic() - t0)]
        # The per-layer stage times come from the stages curate_corpus
        # reports; one it no longer reports is a failed check.
        res.attempted += 1
        missing = [st for st in CURATION_STAGES if st not in stats.get("stage_secs", {})]
        if missing:
            res.errors.append(f"curate stage_secs: no time reported for {missing}")
        want = expected()["corpus_curate"][self.profile]
        for key, value in want.items():
            res.attempted += 1
            if stats.get(key) != value:
                res.errors.append(f"curate {key}: got {stats.get(key)!r}, want {value!r}")
        res.attempted += 1
        problems = verify_training_shards(spark, str(out))
        if problems:
            res.errors.append(f"verify_training_shards: {problems[:3]}")
        shutil.rmtree(out, ignore_errors=True)
        return res

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        s = next(x for x in tracer.spans if x.name == "pipelines.curation")
        out = {
            f"pipelines.curation.{st}_s": float(s.attrs.get("stage_secs", {}).get(st, 0.0))
            for st in CURATION_STAGES
        }
        for c in CURATION_COUNTERS:
            out[f"pipelines.curation.{c}"] = tracer.total(s, c)
        return out


# ---------------------------------------------------------------------------


def frame_digest(pdf) -> str:
    """Order-insensitive digest in ``tools/check_oracle.py``'s canonical
    form (sorted rows, columns sorted by name)."""
    from check_oracle import canon

    return hashlib.sha256(repr(canon(pdf)).encode()).hexdigest()


class QueryMix(Workload):
    """The ``QUERY_MIX`` queries; the other half of ``corpus_and_queries``."""

    def prepare(self) -> None:
        self.sf_dir = self.work / "sf"
        gen.make_query_tables(self.sf_dir, self.seed, self.profile)

    def warmup(self, spark) -> None:
        """Every query once, collected and checked against its golden
        value, so the timed pass runs warm: a cold first run of a query
        spends most of its time compiling, and that time swings with the
        host. ``final_check`` reports the result."""
        from finance_pipeline_spark import registry

        res = self.checked = PassResult()
        golden = expected()["query_mix"][self.profile]
        for name in QUERY_MIX:
            res.attempted += 1
            try:
                pdf = registry.QUERIES[name].fn(spark, str(self.sf_dir)).toPandas()
            except Exception as exc:  # noqa: BLE001 — count it and keep going
                res.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            want = golden[name]
            if len(pdf) != want["rows"]:
                res.errors.append(f"{name}: {len(pdf)} rows, want {want['rows']}")
            elif "sha256" in want and frame_digest(pdf) != want["sha256"]:
                res.errors.append(f"{name}: result hash differs from the golden value")

    def run_pass(self, spark, k: int, tracer: Tracer | None) -> PassResult:
        from finance_pipeline_spark import registry

        res = PassResult()
        for name in QUERY_MIX:
            spec = registry.QUERIES[name]
            res.attempted += 1
            t0 = time.monotonic()
            try:
                if tracer is None:
                    _force(spec.fn(spark, str(self.sf_dir)))
                else:
                    module = spec.fn.__module__.rsplit(".", 1)[-1]
                    with tracer.span(f"query.{name}", module=module):
                        _force(spec.fn(spark, str(self.sf_dir)))
            except Exception as exc:  # noqa: BLE001 — count it and keep going
                res.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            res.steps.append((name, time.monotonic() - t0))
        return res

    def final_check(self, spark) -> PassResult:
        return self.checked

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        out = {}
        for m in QUERY_MODULES:
            spans = [s for s in tracer.spans if s.attrs.get("module") == m]
            out[f"operators.{m}_s"] = sum(s.end - s.start for s in spans)
            for c in ("spark_jobs", "spark_stages", "shuffle_write_mb", "python_exec_s"):
                out[f"operators.{m}.{c}"] = sum(tracer.total(s, c) for s in spans)
        return out


class CorpusAndQueries(Workload):
    """The query mix, then ``curate_corpus``: the many-small-jobs workload
    and the few-large-jobs Python-kernel one in a single run of about a
    minute, where two separate workloads would each pay the JVM start and
    warm-up again. Their per-layer metrics stay apart."""

    name = "corpus_and_queries"

    def __init__(self, work: Path, seed: int, profile: str):
        super().__init__(work, seed, profile)
        self.parts = [QueryMix(work, seed, profile), CorpusCurate(work, seed, profile)]

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def warmup(self, spark) -> None:
        for p in self.parts:
            p.warmup(spark)

    def _merge(self, results: list[PassResult]) -> PassResult:
        out = PassResult()
        for r in results:
            out.steps += r.steps
            out.attempted += r.attempted
            out.errors += r.errors
        return out

    def run_pass(self, spark, k: int, tracer: Tracer | None) -> PassResult:
        return self._merge([p.run_pass(spark, k, tracer) for p in self.parts])

    def final_check(self, spark) -> PassResult:
        return self._merge([p.final_check(spark) for p in self.parts])

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(tracer))
        return out


WORKLOADS = {w.name: w for w in (ForexEtl, CorpusAndQueries)}
