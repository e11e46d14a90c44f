"""Run the whole ETL end-to-end from one command — the engine-level
port of the reference's entrypoint (/root/reference/main.py:1-6: import
``run_etl``, call it, done) with the operational surface a Spark job
needs: explicit warehouse/input paths, offline fixture defaults, and a
JSON run report on stdout for the scheduler to capture.

    python main.py --warehouse ./warehouse
    python main.py --warehouse ./warehouse \
        --history-csv tests/fixtures/../daily.csv \
        --api-json tests/fixtures/frankfurter.json \
        --scrape-html tests/fixtures/xrates.html

The daily schedule artifact lives in
``.github/workflows/data_pipeline.yml`` (the reference schedules the
same three-stage run at 6:00 UTC via cron); on a cluster the identical
command runs under ``spark-submit`` unchanged.

Exit code: 0 if every requested stage produced stats, 1 if any stage
degraded (returned None — the pipelines never raise outward, matching
the reference's independent failure domains, so the exit code is how
a scheduler notices a partial run).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

_FIXTURES = Path(__file__).resolve().parent / "tests" / "fixtures"


def build_config(args: argparse.Namespace):
    from finance_pipeline_spark.pipelines.config import PipelineConfig
    from finance_pipeline_spark.sources.rest_source import file_fetcher

    fetch_json = None
    if args.api_json:
        fetch_json = file_fetcher(Path(args.api_json))
    fetch_html = None
    if args.scrape_html:
        html_path = Path(args.scrape_html)
        fetch_html = lambda: html_path.read_text()  # noqa: E731
    return PipelineConfig(
        warehouse_dir=args.warehouse,
        processed_dir=args.processed or str(Path(args.warehouse) / "_processed"),
        raw_csv_path=args.history_csv,
        fetch_json=fetch_json,
        fetch_html=fetch_html,
    )


def corpus_main(argv: list[str]) -> int:
    """``python main.py corpus <ingest|screen|optimize|export> ...`` —
    the operational entrypoint for the LLM-data tier (stored dedup
    index + curated corpus + training export), so the beyond-reference
    pipeline is runnable without writing Python. Each subcommand
    prints ONE JSON line for a scheduler to capture, mirroring the ETL
    surface."""
    ap = argparse.ArgumentParser(prog="main.py corpus")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("ingest", help="stream docs through the stored dedup index")
    p.add_argument("--source-dir", required=True)
    p.add_argument("--index", required=True, help="CorpusDedupIndex root")
    p.add_argument("--kept", required=True, help="kept-docs TxnKeyedTable path")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--lm-index", default=None,
        help="optional CorpusLmIndex root: score survivors' LM "
        "familiarity vs the accumulated corpus (lands as a flag)",
    )

    p = sub.add_parser(
        "warc-extract",
        help="real WARC segments -> docs parquet (the shape ingest reads)",
    )
    p.add_argument("--warc-dir", required=True)
    p.add_argument("--out", required=True, help="docs parquet dir")

    p = sub.add_parser("screen", help="screen a parquet batch, write verdicts")
    p.add_argument("--index", required=True)
    p.add_argument("--input", required=True, help="parquet of (doc_id, text, ...)")
    p.add_argument("--out", default=None, help="verdicts parquet dir (optional)")

    p = sub.add_parser("optimize", help="compact the index tables")
    p.add_argument("--index", required=True)
    p.add_argument("--target-rows", type=int, default=1_000_000)

    p = sub.add_parser("export", help="shard the kept corpus for training")
    p.add_argument("--kept", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--n-shards", type=int, required=True)
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--format", choices=("parquet", "jsonl"), default="jsonl")

    p = sub.add_parser(
        "bpe-train",
        help="learn a BPE merge table from a corpus (tokenizer asset)",
    )
    p.add_argument("--source-dir", required=True, help="docs parquet dir")
    p.add_argument("--out", required=True, help="merges.json path")
    p.add_argument("--n-merges", type=int, default=200)
    p.add_argument("--top-words", type=int, default=5000)

    p = sub.add_parser(
        "bpe-encode",
        help="BPE-encode a batch with a trained merge table",
    )
    p.add_argument("--merges", required=True, help="merges.json from bpe-train")
    p.add_argument("--input", required=True, help="parquet of (doc_id, text)")
    p.add_argument("--out", default=None, help="counts parquet dir (optional)")

    p = sub.add_parser("lm-add", help="fold a batch into the stored corpus LM")
    p.add_argument("--index", required=True, help="CorpusLmIndex root")
    p.add_argument("--input", required=True, help="parquet of (doc_id, text, ...)")

    p = sub.add_parser(
        "lm-screen", help="score a batch's LM familiarity vs the stored corpus"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--input", required=True)
    p.add_argument("--out", default=None, help="scores parquet dir (optional)")

    p = sub.add_parser(
        "lm-ppl",
        help="Kneser-Ney perplexity of a batch vs the stored corpus LM",
    )
    p.add_argument("--index", required=True)
    p.add_argument("--input", required=True)
    p.add_argument("--out", default=None, help="scores parquet dir (optional)")
    p.add_argument(
        "--order",
        type=int,
        default=2,
        choices=(2, 3),
        help="KN model order: 2 (bigram) or 3 (trigram)",
    )

    p = sub.add_parser(
        "ann-build",
        help="train + encode a stored IVFPQ vector index over a corpus",
    )
    p.add_argument("--index", required=True, help="CorpusAnnIndex root")
    p.add_argument(
        "--input", required=True, help="parquet of (vec_id, embedding)"
    )

    p = sub.add_parser(
        "ann-add", help="encode a batch against the frozen codebooks"
    )
    p.add_argument("--index", required=True)
    p.add_argument("--input", required=True)

    p = sub.add_parser(
        "ann-drift",
        help="quantization-drift monitor: batch reconstruction error "
        "vs the build baseline; recommends rebuild past the threshold",
    )
    p.add_argument("--index", required=True)
    p.add_argument("--input", required=True)
    p.add_argument("--threshold", type=float, default=1.5)

    p = sub.add_parser(
        "ann-search", help="top-k neighbors vs the stored codes"
    )
    p.add_argument("--index", required=True)
    p.add_argument(
        "--queries", required=True, help="parquet of (query_id, q_emb)"
    )
    p.add_argument(
        "--corpus", required=True,
        help="parquet of (vec_id, embedding) — raw vectors for the "
        "exact re-rank (the index stores only codes)",
    )
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--out", default=None, help="hits parquet dir (optional)")

    p = sub.add_parser(
        "leakage-audit",
        help="flag near-dup pairs straddling the train/val/test split",
    )
    p.add_argument(
        "--source-dir", required=True,
        help="dir containing documents.parquet (sf_dir layout)",
    )
    p.add_argument("--out", default=None, help="pairs parquet dir (optional)")

    p = sub.add_parser(
        "mix-budget",
        help="per-source token-budget mixture: annotate docs taken "
        "in quality order until the budget is reached",
    )
    p.add_argument("--source-dir", required=True)
    p.add_argument("--budget", type=int, default=None,
                   help="tokens per source (default: operator default)")
    p.add_argument("--out", default=None, help="annotated parquet dir")

    p = sub.add_parser(
        "unimax-alloc",
        help="UniMax language-budget allocation: water-fill a total "
        "token budget across languages under a per-language epoch cap",
    )
    p.add_argument("--source-dir", required=True)
    p.add_argument("--epoch-cap", type=int, default=None,
                   help="per-language epoch ceiling (default: operator default)")
    p.add_argument("--budget-epochs", type=int, default=None,
                   help="total budget as corpus-epoch multiples (default: operator default)")

    p = sub.add_parser(
        "temp-alloc",
        help="temperature mixture allocation (p ∝ n^α): re-split the "
        "corpus token budget across languages by repeated-sqrt "
        "weights — the table read next to unimax-alloc",
    )
    p.add_argument("--source-dir", required=True)
    p.add_argument("--halvings", type=int, default=None,
                   help="α = 0.5^halvings (default 1 → α=0.5; 2 → α=0.25)")

    p = sub.add_parser(
        "dsir-select",
        help="DSIR importance resampling: rank raw docs by hashed-"
        "bigram target/raw log-likelihood ratio, keep the top k",
    )
    p.add_argument("--source-dir", required=True)
    p.add_argument("--target-lang", default=None,
                   help="language slice standing in for the target corpus")
    p.add_argument("--k", type=int, default=None, help="resample size")
    p.add_argument("--gumbel-seed", default=None,
                   help="opt into the paper's Gumbel top-k resample, "
                   "seeded + reproducible (default: deterministic top-k)")

    p = sub.add_parser(
        "datasheet",
        help="per-(source, language) dataset datasheet: docs, tokens, "
        "median length, mean quality, dup fraction, token share",
    )
    p.add_argument("--source-dir", required=True)

    p = sub.add_parser(
        "source-overlap",
        help="pairwise shared-trigram counts + vocabulary Jaccard "
        "between sources (mirrored-crawl forensics)",
    )
    p.add_argument("--source-dir", required=True)
    p.add_argument("--top", type=int, default=10,
                   help="pairs to print, highest Jaccard first")

    p = sub.add_parser(
        "novelty",
        help="corpus self-overlap summary: per-doc shared-trigram "
        "fraction distribution (templated-source diagnostic)",
    )
    p.add_argument("--source-dir", required=True)

    p = sub.add_parser(
        "sample-eval",
        help="stratified eval sample: largest-remainder allocation "
        "over (source, lang), deterministic md5 pick",
    )
    p.add_argument("--source-dir", required=True)
    p.add_argument("--k", type=int, default=100)
    p.add_argument("--out", default=None,
                   help="optional parquet path for the sampled rows")

    p = sub.add_parser(
        "heavy-hitters",
        help="top-20 tokens: exact counts vs Count-Min Sketch reads "
        "(the estimate >= exact invariant, with collision noise)",
    )
    p.add_argument("--source-dir", required=True)

    p = sub.add_parser(
        "audio-stats",
        help="audio-tier summary: framewise features, duplicate "
        "signature groups, ADPCM compression + reconstruction error",
    )
    p.add_argument("--source-dir", required=True)

    p = sub.add_parser(
        "curate",
        help="batch curation: screen -> LM screen -> dedup -> scrub -> "
        "decontaminate -> sharded export",
    )
    p.add_argument(
        "--source-dir", default=None,
        help="dir containing documents.parquet (sf_dir layout)",
    )
    p.add_argument(
        "--warc-dir", default=None,
        help="alternative input: dir of WARC segment files",
    )
    p.add_argument("--out", required=True)
    p.add_argument("--n-shards", type=int, default=4)
    p.add_argument("--token-budget", type=int, default=None,
                   help="optional per-source token budget for the "
                   "train split (the data-recipe stage; val/test "
                   "untouched)")
    p.add_argument("--dsir-k", type=int, default=None,
                   help="optional DSIR resample: shrink train to the "
                   "target slice + k most target-like docs")
    p.add_argument("--dsir-seed", default=None,
                   help="seed the DSIR stage's Gumbel draw")
    args = ap.parse_args(argv)
    if args.cmd == "curate" and not (args.source_dir or args.warc_dir):
        ap.error("curate requires --source-dir or --warc-dir")

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from finance_pipeline_spark.session import get_session

    spark = get_session(f"corpus_{args.cmd}")
    if args.cmd == "ingest":
        from finance_pipeline_spark.pipelines.corpus_ingest import ingest_with_index

        stats = ingest_with_index(
            spark, args.source_dir, args.index, args.kept, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            lm_root=args.lm_index,
        )
        print(json.dumps({"batches": stats}))
        return 0
    if args.cmd == "screen":
        from finance_pipeline_spark.pipelines.dedup_index import CorpusDedupIndex

        verdicts = CorpusDedupIndex(spark, args.index).screen(
            spark.read.parquet(args.input)
        )
        if args.out:
            verdicts.write.mode("overwrite").parquet(args.out)
            verdicts = spark.read.parquet(args.out)  # count what landed
        from pyspark.sql import functions as F

        counts = {
            r["verdict"]: r["n"]
            for r in verdicts.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(json.dumps({"verdicts": counts, "out": args.out}))
        return 0
    if args.cmd == "warc-extract":
        from finance_pipeline_spark.operators.warc import warc_dir_to_docs

        docs = warc_dir_to_docs(spark, args.warc_dir)
        docs.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
        n = out.count()
        n_hosts = out.select("source").distinct().count()
        print(json.dumps({"docs": n, "hosts": n_hosts, "out": args.out}))
        return 0
    if args.cmd == "leakage-audit":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.textops import (
            text_split_leakage_audit,
        )

        pairs = text_split_leakage_audit(spark, args.source_dir)
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
            pairs = spark.read.parquet(args.out)
        agg = pairs.agg(
            F.count(F.lit(1)).alias("pairs"),
            F.sum(F.col("leaks").cast("int")).alias("leaking"),
        ).collect()[0]
        print(json.dumps({
            "pairs": int(agg["pairs"] or 0),
            "leaking": int(agg["leaking"] or 0),
            "out": args.out,
        }))
        return 0
    if args.cmd == "mix-budget":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.textops import (
            token_budget_mix,
        )

        kwargs = {} if args.budget is None else {"budget": args.budget}
        mixed = token_budget_mix(
            spark.read.parquet(f"{args.source_dir}/documents.parquet"),
            **kwargs,
        )
        if args.out:
            mixed.write.mode("overwrite").parquet(args.out)
            mixed = spark.read.parquet(args.out)
        per_src = {
            r["source"]: {"taken": r["taken_n"], "tokens": r["tok"]}
            for r in mixed.filter("taken")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("taken_n"),
                F.sum("n_tokens").alias("tok"),
            )
            .collect()
        }
        print(json.dumps({"sources": per_src, "out": args.out}))
        return 0
    if args.cmd == "unimax-alloc":
        from finance_pipeline_spark.operators.textops import unimax_alloc

        kwargs = {}
        if args.epoch_cap is not None:
            kwargs["epoch_cap"] = args.epoch_cap
        if args.budget_epochs is not None:
            kwargs["budget_epochs"] = args.budget_epochs
        rows = unimax_alloc(
            spark.read.parquet(f"{args.source_dir}/documents.parquet"),
            **kwargs,
        ).collect()  # language-cardinality frame: driver-safe by design
        print(json.dumps({
            "languages": {
                r["lang"]: {
                    "n_tokens": r["n_tokens"],
                    "alloc_tokens": r["alloc_tokens"],
                    "epochs": round(r["epochs"], 4),
                    "capped": r["capped"],
                }
                for r in rows
            }
        }))
        return 0
    if args.cmd == "temp-alloc":
        from finance_pipeline_spark.operators.textops import (
            temperature_alloc,
        )

        kwargs = {}
        if args.halvings is not None:
            kwargs["halvings"] = args.halvings
        rows = temperature_alloc(
            spark.read.parquet(f"{args.source_dir}/documents.parquet"),
            **kwargs,
        ).collect()  # language-cardinality frame: driver-safe by design
        print(json.dumps({
            "languages": {
                r["lang"]: {
                    "n_tokens": r["n_tokens"],
                    "alloc_tokens": r["alloc_tokens"],
                    "epochs_permille": r["epochs_permille"],
                }
                for r in rows
            }
        }))
        return 0
    if args.cmd == "dsir-select":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.textops import dsir_select

        kwargs = {}
        if args.target_lang is not None:
            kwargs["target_lang"] = args.target_lang
        if args.k is not None:
            kwargs["k"] = args.k
        if args.gumbel_seed is not None:
            kwargs["gumbel_seed"] = args.gumbel_seed
        out = dsir_select(
            spark.read.parquet(f"{args.source_dir}/documents.parquet"),
            **kwargs,
        )
        sel = out.filter("selected").select("doc_id", "logw")
        picked = sel.orderBy(F.col("logw").desc(), "doc_id").collect()
        # k-row frame: driver-safe by design
        print(json.dumps({
            "selected": len(picked),
            "top": [
                {"doc_id": r["doc_id"], "logw": round(r["logw"], 6)}
                for r in picked[:20]
            ],
        }))
        return 0
    if args.cmd == "datasheet":
        from finance_pipeline_spark.operators.textops import text_dataset_card

        rows = text_dataset_card(spark, args.source_dir).collect()
        print(json.dumps({  # strata-sized frame: driver-safe by design
            f"{r['source']}/{r['lang']}": {
                "docs": r["n_docs"], "tokens": r["n_tokens"],
                "median_doc_tokens": r["median_doc_tokens"],
                "mean_quality": round(r["mean_quality"], 4),
                "dup_frac": round(r["dup_frac"], 4),
                "token_share_permille": r["token_share_permille"],
            } for r in rows
        }))
        return 0
    if args.cmd == "source-overlap":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.textops import (
            source_overlap_matrix,
        )

        rows = (  # sources^2 frame: driver-safe by design
            source_overlap_matrix(spark, args.source_dir)
            .orderBy(F.col("jaccard").desc(), "source_a", "source_b")
            .limit(args.top)
            .collect()
        )
        print(json.dumps({"pairs": [
            {"a": r["source_a"], "b": r["source_b"],
             "shared_grams": r["n_shared_grams"],
             "jaccard": round(r["jaccard"], 4)} for r in rows
        ]}))
        return 0
    if args.cmd == "heavy-hitters":
        from finance_pipeline_spark.operators.textops import (
            text_cms_heavy_hitters,
        )

        rows = sorted(
            text_cms_heavy_hitters(spark, args.source_dir).collect(),
            key=lambda r: (-r["exact_count"], r["token"]),
        )
        print(json.dumps({
            "tokens": [
                {
                    "token": r["token"],
                    "exact": r["exact_count"],
                    "cms": r["cms_estimate"],
                    "over": r["overestimate"],
                }
                for r in rows
            ],
            "invariant_holds": all(
                r["cms_estimate"] >= r["exact_count"] for r in rows
            ),
        }))
        return 0
    if args.cmd == "audio-stats":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.multimodal import (
            audio_features,
            audio_fingerprints,
            mm_decode_adpcm,
        )

        docs = spark.read.parquet(f"{args.source_dir}/documents.parquet")
        feat = audio_features(docs).agg(
            F.count(F.lit(1)).alias("clips"),
            F.sum("n_frames").alias("frames"),
            F.sum("active_frames").alias("active"),
            F.sum(
                F.when(F.col("zero_crossings") > 0, 1).otherwise(0)
            ).alias("clips_with_crossings"),
        ).collect()[0]
        dup = audio_fingerprints(docs).filter(
            F.col("group_size") > 1
        ).agg(
            F.count(F.lit(1)).alias("docs"),
            F.countDistinct("sig").alias("groups"),
        ).collect()[0]
        adp = mm_decode_adpcm(spark, args.source_dir).agg(
            F.sum("n_pcm_bytes").alias("pcm"),
            F.sum("n_adpcm_bytes").alias("adpcm"),
            F.sum("sum_abs_err").alias("err"),
            F.sum("n_samples").alias("samples"),
        ).collect()[0]
        print(json.dumps({
            "clips": feat["clips"],
            "frames": feat["frames"],
            "active_frames": feat["active"],
            "clips_with_crossings": feat["clips_with_crossings"],
            "dup_docs": dup["docs"],
            "dup_groups": dup["groups"],
            "adpcm_ratio": round(adp["pcm"] / adp["adpcm"], 2),
            "adpcm_mean_abs_err": round(adp["err"] / adp["samples"], 1),
        }))
        return 0
    if args.cmd == "novelty":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.textops import (
            text_ngram_novelty,
        )

        s = text_ngram_novelty(spark, args.source_dir).agg(
            F.count(F.lit(1)).alias("docs"),
            F.avg("shared_frac").alias("mean_frac"),
            F.sum(
                F.when(F.col("shared_frac") >= 0.9, 1).otherwise(0)
            ).alias("templated"),
            F.sum(
                F.when(F.col("shared_frac") == 0.0, 1).otherwise(0)
            ).alias("all_novel"),
        ).collect()[0]
        print(json.dumps({
            "docs": s["docs"],
            "mean_shared_frac": round(s["mean_frac"] or 0.0, 4),
            "docs_templated_ge_90pct": s["templated"],
            "docs_fully_novel": s["all_novel"],
        }))
        return 0
    if args.cmd == "sample-eval":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.operators.textops import (
            stratified_sample,
        )

        sample = stratified_sample(
            spark.read.parquet(f"{args.source_dir}/documents.parquet"),
            k=args.k,
        )
        if args.out:
            sample.write.mode("overwrite").parquet(args.out)
            sample = spark.read.parquet(args.out)
        per = {  # strata-sized after the agg: driver-safe
            f"{r['source']}/{r['lang']}": r["n"]
            for r in sample.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps({
            "k": args.k, "sampled": sum(per.values()),
            "strata": per, "out": args.out,
        }))
        return 0
    if args.cmd == "bpe-train":
        from finance_pipeline_spark.pipelines.bpe_tokenizer import train_and_save

        stats = train_and_save(
            spark,
            spark.read.parquet(args.source_dir),
            args.out,
            n_merges=args.n_merges,
            top_words=args.top_words,
        )
        print(json.dumps(stats))
        return 0
    if args.cmd == "bpe-encode":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.pipelines.bpe_tokenizer import (
            bpe_encode_docs,
            load_merges,
        )

        counts = bpe_encode_docs(
            spark.read.parquet(args.input), load_merges(args.merges)
        )
        if args.out:
            counts.write.mode("overwrite").parquet(args.out)
            counts = spark.read.parquet(args.out)
        agg = counts.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens_bpe").alias("tokens"),
            F.sum("n_chars").alias("chars"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "docs": agg["n"],
                    "bpe_tokens": agg["tokens"],
                    "chars": agg["chars"],
                    "out": args.out,
                }
            )
        )
        return 0
    if args.cmd == "lm-add":
        from finance_pipeline_spark.pipelines.lm_index import CorpusLmIndex

        stats = CorpusLmIndex(spark, args.index).add(
            spark.read.parquet(args.input)
        )
        print(json.dumps(stats))
        return 0
    if args.cmd == "lm-screen":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.pipelines.lm_index import CorpusLmIndex

        scores = CorpusLmIndex(spark, args.index).familiarity(
            spark.read.parquet(args.input)
        )
        if args.out:
            scores.write.mode("overwrite").parquet(args.out)
            scores = spark.read.parquet(args.out)
        counts = scores.agg(
            F.count(F.lit(1)).alias("n"),
            # coalesce: sum over ZERO scored rows (every probe doc under
            # 2 tokens) is NULL — schedulers doing arithmetic on the
            # JSON line need 0, not null
            F.coalesce(
                F.sum(F.col("unfamiliar").cast("bigint")), F.lit(0)
            ).alias("n_unfamiliar"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "scored": counts["n"],
                    "unfamiliar": counts["n_unfamiliar"],
                    "out": args.out,
                }
            )
        )
        return 0
    if args.cmd == "lm-ppl":
        from pyspark.sql import functions as F

        from finance_pipeline_spark.pipelines.lm_index import CorpusLmIndex

        idx = CorpusLmIndex(spark, args.index)
        score_fn = idx.perplexity3 if args.order == 3 else idx.perplexity
        scores = score_fn(spark.read.parquet(args.input))
        if args.out:
            scores.write.mode("overwrite").parquet(args.out)
            scores = spark.read.parquet(args.out)
        agg = scores.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("ppl"), 3).alias("mean_ppl"),
            F.round(F.max("ppl"), 3).alias("max_ppl"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "scored": agg["n"],
                    "mean_ppl": agg["mean_ppl"],
                    "max_ppl": agg["max_ppl"],
                    "out": args.out,
                }
            )
        )
        return 0
    if args.cmd == "ann-build":
        from finance_pipeline_spark.pipelines.ann_index import CorpusAnnIndex

        stats = CorpusAnnIndex(spark, args.index).build(
            spark.read.parquet(args.input)
        )
        print(json.dumps(stats))
        return 0
    if args.cmd == "ann-add":
        from finance_pipeline_spark.pipelines.ann_index import CorpusAnnIndex

        stats = CorpusAnnIndex(spark, args.index).add(
            spark.read.parquet(args.input)
        )
        print(json.dumps(stats))
        return 0
    if args.cmd == "ann-drift":
        from finance_pipeline_spark.pipelines.ann_index import CorpusAnnIndex

        stats = CorpusAnnIndex(spark, args.index).drift(
            spark.read.parquet(args.input), threshold=args.threshold
        )
        print(json.dumps(stats))
        return 0
    if args.cmd == "ann-search":
        from finance_pipeline_spark.pipelines.ann_index import CorpusAnnIndex

        hits = CorpusAnnIndex(spark, args.index).search(
            spark.read.parquet(args.queries),
            spark.read.parquet(args.corpus),
            k=args.k,
        )
        if args.out:
            hits.write.mode("overwrite").parquet(args.out)
            hits = spark.read.parquet(args.out)
        print(json.dumps({"hits": hits.count(), "k": args.k, "out": args.out}))
        return 0
    if args.cmd == "curate":
        from finance_pipeline_spark.pipelines.curation import curate_corpus

        stats = curate_corpus(
            spark, args.source_dir, args.out, args.n_shards,
            warc_dir=args.warc_dir, token_budget=args.token_budget,
            dsir_k=args.dsir_k, dsir_seed=args.dsir_seed,
        )
        stats["manifest"] = {
            k: stats["manifest"][k] for k in ("n_rows", "n_shards")
        }
        print(json.dumps(stats))
        return 0
    if args.cmd == "optimize":
        from finance_pipeline_spark.pipelines.dedup_index import CorpusDedupIndex

        out = CorpusDedupIndex(spark, args.index).optimize(
            target_rows=args.target_rows
        )
        print(json.dumps(out))
        return 0
    # export
    from finance_pipeline_spark.sinks.txn_table import TxnKeyedTable
    from finance_pipeline_spark.sinks.shard_writer import (
        write_jsonl_shards,
        write_training_shards,
    )

    kept = TxnKeyedTable(spark, args.kept, ["dg"]).read()
    if kept is None:
        print(json.dumps({"error": "kept table is empty"}))
        return 1
    writer = write_jsonl_shards if args.format == "jsonl" else write_training_shards
    manifest = writer(kept.drop("created_at"), args.out, args.n_shards, args.key_col)
    print(json.dumps({"n_rows": manifest["n_rows"], "n_shards": manifest["n_shards"]}))
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    # subcommand surface; bare flags keep the legacy ETL behavior so
    # the scheduled workflow's invocation is unchanged
    if argv and argv[0] == "corpus":
        return corpus_main(argv[1:])
    ap = argparse.ArgumentParser(
        description="Run the finance ETL (API, CSV, scrape: concurrently)."
    )
    ap.add_argument("--warehouse", default="./warehouse",
                    help="parquet warehouse root (default ./warehouse)")
    ap.add_argument("--processed", default=None,
                    help="intermediate outputs dir (default <warehouse>/_processed)")
    ap.add_argument("--history-csv", default=None,
                    help="Kaggle-shaped daily forex history CSV (S1 input)")
    ap.add_argument("--api-json", default=str(_FIXTURES / "frankfurter.json"),
                    help="REST payload file (offline fixture default); '' disables")
    ap.add_argument("--scrape-html", default=str(_FIXTURES / "xrates.html"),
                    help="scrape HTML file (offline fixture default); '' disables")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from finance_pipeline_spark.pipelines import run_etl
    from finance_pipeline_spark.session import get_session

    spark = get_session("finance_pipeline_etl")
    stats = run_etl(spark, build_config(args))
    report = {
        stage: (None if s is None else {"inserted": s.inserted, "skipped": s.skipped})
        for stage, s in stats.items()
    }
    # A stage with no configured input degrades by design (the
    # reference's independent failure domains); it only counts as a
    # failure when its input WAS given and the stage still produced
    # nothing.
    configured = {
        "api": bool(args.api_json),
        "csv": bool(args.history_csv),
        "scrape": bool(args.scrape_html),
    }
    failed = [s for s, st in stats.items() if st is None and configured[s]]
    print(json.dumps({"stages": report, "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
