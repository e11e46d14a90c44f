"""Stored vector index — the persistent, build-once/serve-many form of
``ann_ivfpq_scaled``.

The registered operator trains, encodes, AND serves in one call; a real
deployment does those at different cadences: the index is built offline
over the corpus, EXTENDED incrementally as ingest admits new documents
(FAISS semantics: adds encode against the FROZEN codebooks — no
retrain), and searched per query batch. This component persists that
state the same way ``CorpusDedupIndex`` / ``CorpusLmIndex`` persist
theirs:

- ``codes/``      — ``TxnKeyedTable`` keyed ``vec_id``: one row per
  indexed vector — its coarse cell and PQ codes ``(cluster, c0..c3)``.
  First-wins keyed merge makes re-adds idempotent (crash-retried
  ingest batches are no-ops).
- ``centroids.npy`` / ``codebooks.npy`` — the coarse quantizer
  (k_cells x dim) and PQ codebooks (m x k_pq x dsub), driver-sized by
  construction (``scaled_ann_params`` caps: ≤4096x64 + 4x256x16
  doubles ≈ 2.2 MB), written via tmp + atomic rename.
- ``meta.json``   — params + build size, written LAST as the build's
  commit marker: a crash mid-build leaves no meta, and every read path
  raises a clear "not built" instead of serving half an index.

Search loads the two arrays driver-side, broadcasts them through the
SHARED serving stack (``operators/similarity.ivfpq_serve`` — the exact
code path the recall tests and 10x probe measured), and re-ranks
against raw vectors the caller supplies (the index stores 4-byte codes
per vector, never embeddings — at 100 TB the refine is |queries| x
pool point lookups against the vec_id-keyed source table, not a scan).

Scale shape: add() cost is one assignment kernel pass over the BATCH
(broadcast codebooks); stored cost is ~12 bytes/vector; search scans
~nprobe/k_cells of the stored codes. ``optimize()`` compacts the codes
table under the same index-root writer lock as the other stored
indexes. Frozen-codebook drift is the operator's standard tradeoff:
re-``build`` when the corpus distribution has moved (FAISS guidance),
which this class makes explicit rather than silent.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_pipeline_spark.operators.similarity import (
    _PQ_DSUB,
    _PQ_M,
    _RERANK_N,
    _SCALED_TRAIN_CAP,
    _pq_codes_kernel,
    _pq_recon_error,
    _train_sample,
    _train_scaled_quantizers,
    ivfpq_serve,
    scaled_ann_params,
)
from finance_pipeline_spark.sinks.txn_table import TxnKeyedTable


def _write_atomic(path: Path, data: bytes) -> None:
    tmp = path.with_name(f".{path.name}.{os.getpid()}.tmp")
    tmp.write_bytes(data)
    tmp.replace(path)


class CorpusAnnIndex:
    """Persistent IVFPQ index over (vec_id, embedding) batches.

    Typical loop::

        idx = CorpusAnnIndex(spark, "/warehouse/ann_index")
        idx.build(corpus)                  # offline: train + encode
        idx.add(new_batch)                 # per-ingest: encode only
        hits = idx.search(queries, corpus_plus_new)   # per-request
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = str(root)
        self.codes = TxnKeyedTable(spark, f"{self.root}/codes", ["vec_id"])

    # -- state ---------------------------------------------------------

    def _meta_path(self) -> Path:
        return Path(self.root) / "meta.json"

    def exists(self) -> bool:
        return self._meta_path().exists()

    def _load_state(self):
        if not self.exists():
            raise ValueError(
                f"CorpusAnnIndex at {self.root} is not built — run build() "
                "first (meta.json is the build's commit marker)"
            )
        meta = json.loads(self._meta_path().read_text())
        cents = np.load(Path(self.root) / "centroids.npy")
        cents1 = np.load(Path(self.root) / "codebooks.npy")
        return meta, cents, cents1

    # -- build / extend -------------------------------------------------

    def build(self, e: DataFrame) -> dict:
        """Train the coarse quantizer + PQ codebooks at
        ``scaled_ann_params`` capacity on a deterministic sample of
        ``e`` (vec_id, embedding), encode every vector, and persist.
        Overwrites any previous build (codebooks are frozen per build;
        a rebuild is the documented answer to distribution drift).
        Commit order: arrays → codes → meta LAST, so a crash anywhere
        leaves either the old index (meta still old/absent) or the new
        one — never a half-built state a reader would trust."""
        e = e.select("vec_id", "embedding")
        n = e.count()
        # the same bounded training sample the batch operator uses —
        # build and ivfpq_scaled_topk must train identically or
        # ann_serve_parity breaks
        p = scaled_ann_params(n, train_cap=_SCALED_TRAIN_CAP)
        sample = _train_sample(e, n, p["train_target"]).localCheckpoint(
            eager=True
        )
        # coarse and PQ training share one fused pass — the exact
        # recipe the batch operator runs through the same helper, so
        # parity is preserved
        cents, cents1 = _train_scaled_quantizers(
            self.spark, sample, p["k_cells"], p["k_pq"]
        )

        root = Path(self.root)
        root.mkdir(parents=True, exist_ok=True)
        # invalidate any previous build BEFORE replacing its arrays: a
        # crash between the array writes and the new meta must not let
        # readers pair old meta with new arrays
        self._meta_path().unlink(missing_ok=True)
        buf_c, buf_b = _np_bytes(np.asarray(cents)), _np_bytes(cents1)
        _write_atomic(root / "centroids.npy", buf_c)
        _write_atomic(root / "codebooks.npy", buf_b)
        if self.codes.exists():
            self.codes.drop()
        merged = self.codes.merge(self._encode(e, cents, cents1))
        # drift baseline: mean squared PQ reconstruction error over the
        # (bounded) training sample — the number incoming batches are
        # compared against to decide when the frozen codebooks have
        # gone stale. None on an empty build (nothing to baseline).
        base = (
            _pq_recon_error(self.spark, sample, cents1)
            .agg(F.avg("err").alias("e"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        base_err = round(float(base["e"]), 6) if base["n"] else None
        meta = dict(
            p, n_built=n, dim=_PQ_M * _PQ_DSUB, base_recon_err=base_err
        )
        _write_atomic(
            self._meta_path(), json.dumps(meta, sort_keys=True).encode()
        )
        return dict(meta, codes_inserted=merged.inserted)

    def _encode(self, e: DataFrame, cents, cents1) -> DataFrame:
        # one kernel pass emits the complete (vec_id, c0..c3, cluster)
        # index row — same fusion as ivfpq_scaled_topk (r16): the old
        # shape ran a second corpus kernel for the cells and shuffled
        # both outputs through a vec_id glue join
        return _pq_codes_kernel(
            self.spark, e, cents1, spark_parity=False, coarse_cents=cents
        )

    def add(self, batch: DataFrame) -> dict:
        """Encode a (vec_id, embedding) batch against the FROZEN
        codebooks and merge — the FAISS ``add()`` contract. Keyed
        first-wins merge: re-delivered batches and crash replays are
        no-ops; concurrent adds of disjoint ids are safe (per-op
        transactional table)."""
        meta, cents, cents1 = self._load_state()
        merged = self.codes.merge(
            self._encode(batch.select("vec_id", "embedding"), cents, cents1)
        )
        return {"codes_inserted": merged.inserted}

    def drift(self, batch: DataFrame, threshold: float = 1.5) -> dict:
        """Quantization-drift monitor: how well do the FROZEN codebooks
        still fit an incoming (vec_id, embedding) batch? Returns the
        batch's mean squared PQ reconstruction error, the build-time
        baseline, their ratio, and ``rebuild_recommended`` (ratio >
        ``threshold``). This is the measurable trigger for the
        class-docstring contract that distribution drift is answered
        by a re-``build`` — without it, "rebuild on drift" is a policy
        nobody can act on. One Arrow kernel pass over the batch, no
        shuffle, index state untouched."""
        meta, _cents, cents1 = self._load_state()
        base = meta.get("base_recon_err")
        if base is None:
            raise ValueError(
                "index has no drift baseline (built empty or by a "
                "pre-baseline version) — rebuild() on the current "
                "corpus to enable drift monitoring"
            )
        r = (
            _pq_recon_error(
                self.spark, batch.select("vec_id", "embedding"), cents1
            )
            .agg(F.avg("err").alias("e"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        if not r["n"]:
            raise ValueError("drift() needs a non-empty batch")
        err = round(float(r["e"]), 6)
        if base > 0:
            ratio = round(err / base, 4)
        else:  # degenerate baseline (sample sat exactly on centroids)
            ratio = 1.0 if err == 0 else float("inf")
        return {
            "n_vectors": int(r["n"]),
            "batch_recon_err": err,
            "base_recon_err": base,
            "ratio": ratio,
            "threshold": threshold,
            "rebuild_recommended": bool(ratio > threshold),
        }

    # -- serve -----------------------------------------------------------

    def search(
        self, q: DataFrame, rerank_src: DataFrame, k: int = 10,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Top-``k`` neighbors per query against the STORED codes:
        ``q`` carries (query_id, q_emb); ``rerank_src`` (vec_id,
        embedding) supplies raw vectors for the exact refine — the
        index itself stores only codes. Same ``ivfpq_serve`` stack the
        batch operator uses, so stored-state serving cannot drift from
        the recall-tested path."""
        meta, cents, cents1 = self._load_state()
        if nprobe is None:
            nprobe = int(meta["nprobe"])
        stored = self.codes.read()  # ONE snapshot: pool sizing + serve
        if stored is None:
            # meta.json survived but the codes table is gone/empty —
            # build() over an empty corpus, or out-of-band removal.
            # An empty result frame (not a crash, not a silent serve
            # against nothing the caller can't distinguish from "no
            # neighbors close enough") keeps screen()'s left-join
            # contract working: every batch row comes back 'keep'.
            return self.spark.createDataFrame(
                [], "query_id bigint, corpus_id bigint, dist double, rnk bigint"
            )
        n_indexed = stored.count()
        pool = max(
            _RERANK_N,
            min(1024, 2 * -(-max(n_indexed, 1) // int(meta["k_cells"]))),
        )
        return ivfpq_serve(
            self.spark,
            cents,
            cents1,
            stored,
            q.select("query_id", "q_emb"),
            rerank_src.select("vec_id", "embedding"),
            nprobe,
            pool,
            k=k,
        )

    def screen(
        self, batch: DataFrame, rerank_src: DataFrame, threshold: float,
    ) -> DataFrame:
        """Incremental EMBEDDING near-dup screen — the vector-space
        analogue of ``CorpusDedupIndex.screen``: each (vec_id,
        embedding) batch row gets its exact-reranked nearest stored
        neighbor; squared-L2 ``dist`` <= ``threshold`` flags
        ``review_near`` (candidate, not proof — same verdict contract
        as the text tiers). Self-matches are excluded by id inside the
        serve, so a crash-replayed batch whose ids are already indexed
        screens against the REST of the corpus, not itself. Returns
        (vec_id, near_dup, nn_id, nn_dist, verdict)."""
        q = batch.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        nn = (
            self.search(q, rerank_src, k=1)
            .select(
                F.col("query_id").alias("vec_id"),
                F.col("corpus_id").alias("nn_id"),
                F.col("dist").alias("nn_dist"),
            )
        )
        return (
            batch.select("vec_id")
            .join(nn, "vec_id", "left")
            .select(
                "vec_id",
                F.coalesce(
                    F.col("nn_dist") <= F.lit(float(threshold)), F.lit(False)
                ).alias("near_dup"),
                "nn_id",
                "nn_dist",
                F.when(
                    F.col("nn_dist") <= F.lit(float(threshold)),
                    F.lit("review_near"),
                )
                .otherwise(F.lit("keep"))
                .alias("verdict"),
            )
        )

    # -- maintenance ------------------------------------------------------

    def optimize(self, target_rows: int = 1_000_000) -> dict:
        """Compact the codes table (key-sorted bin-pack) under the
        index-root writer lock — the same mutual exclusion contract as
        the dedup/LM indexes."""
        from finance_pipeline_spark.sinks.keyed_writer import writer_lock

        with writer_lock(self.root, owner="ann-index-optimize"):
            if not self.codes.exists():
                return {"files_before": 0, "files_after": 0}
            before, after = self.codes.compact(target_rows=target_rows)
            return {"files_before": before, "files_after": after}


def _np_bytes(arr: "np.ndarray") -> bytes:
    import io

    buf = io.BytesIO()
    np.save(buf, arr)
    return buf.getvalue()
